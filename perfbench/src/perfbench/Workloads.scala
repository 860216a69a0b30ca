package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineSpec
import graft.pipeline.PipelineRunner
import graft.pipeline.PipelineRunner.RunResult
import graft.tables.GraftTable

/** A workload: a seeded sequence of operations driven through the
  * engine's public entry points, each checked against ground truth. */
abstract class Workload(val data: Path, val work: Path, val truth: JsonNode) {
  /** The set-up's warm-up: a small pipeline of the workload's shape. */
  def warm(spark: SparkSession, dir: Path): Unit
  /** An untimed pass before timing starts, so that timed operations run
    * warm (JIT); none by default. */
  def prime(spark: SparkSession, dir: Path): Unit = ()
  /** Operations of the priming pass that were checked like timed ones;
    * their failures count in the result line. */
  val primed = mutable.ArrayBuffer.empty[Op]
  def prepare(spark: SparkSession): Unit = ()
  def hasNext: Boolean = true
  /** True between whole cycles of the workload's operation mix. */
  def atBoundary: Boolean = true
  /** Nominal wall time of one cycle, checks included, on a 4-core host:
    * a run measures --seconds / cycleSeconds whole cycles. */
  def cycleSeconds: Double
  /** Operations the traced run needs for its fixed counter window. */
  def minOps(trace: Boolean): Int = 1
  def next(spark: SparkSession, tracer: Option[Tracer]): Op
  /** Data bytes the timed operations wrote. */
  def bytesWritten: Long
  /** The workload's own end-to-end metrics, by name, with units. */
  def namedMetrics(ops: Seq[Op], heapPeakMb: Double): Map[String, Any]

  protected var step = 0

  /** Runs one operation: the timed call `f` (the pipeline or table call,
    * forced to completion), then `check` outside the timing. In the traced
    * run the call is wrapped by the tracer and `yaml` is also parsed once
    * on its own, so PipelineSpec.parse gets a timer of its own. */
  protected def op[A](spark: SparkSession, tracer: Option[Tracer], kind: String,
      yaml: Option[String], inRows: Long, inBytes: Long)(f: => A)
      (check: A => Option[String]): Op = {
    val i = step
    step += 1
    val sc = spark.sparkContext
    sc.setJobGroup(s"op$i", kind)
    val extra = mutable.Map.empty[String, Double]
    lastExtra = Map.empty
    def call(): (Try[A], Double) = {
      val t = System.nanoTime()
      val r = Try(f)
      (r, (System.nanoTime() - t) / 1e6)
    }
    val ((res, ms), counters) = tracer match {
      case None => (call(), None)
      case Some(tr) =>
        val (r, c) = tr.around(i, kind) {
          yaml.foreach(y => extra("parse_ms") = tr.span("config.parse", i)(PipelineSpec.parse(y))._2)
          val name = if (yaml.isDefined) "pipeline.run" else s"tables.$kind"
          tr.span(name, i)(call())._1
        }
        (r, Some(c))
    }
    sc.clearJobGroup()
    val err = res.fold(e => Some(Workload.describe(e)),
      a => Try(check(a)).fold(e => Some("check threw: " + Workload.describe(e)), identity))
    Op(i, kind, ms, err, inRows, inBytes, yaml.isDefined, counters,
      extra.toMap ++ lastExtra)
  }

  /** Per-operation numbers the last check recorded for Layers. */
  protected var lastExtra: Map[String, Double] = Map.empty
}

object Workload {
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  def p(x: Path): String = x.toString

  def metric(v: Double, unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "samples" -> n)
}

// ------------------------------------------------------------------ ingest

/** Batch YAML ingest: six checks, a fused validation, derive, a join to
  * the orders dimension, a filter and an aggregate; parquet sink,
  * quarantine sink and metrics sink. */
final class Ingest(data: Path, work: Path, truth: JsonNode)
    extends Workload(data, work, truth) {
  def cycleSeconds: Double = 3.5
  import Workload.p
  private val out = work.resolve("ingest")
  private val rows = truth.get("rows").asLong
  private val inBytes = Main.dirBytes(data.resolve("lineitem"))
  private var written = 0L

  def yaml(d: Path, o: Path): String = s"""
    |name: perfbench_ingest
    |source: {format: parquet, path: "${p(d.resolve("lineitem"))}"}
    |checks:
    |  - {type: not_null, name: key_present, col: l_orderkey}
    |  - {type: range, name: discount_band, col: l_discount, lo: 0.0, hi: 0.1}
    |  - {type: in_set, name: flag_known, col: l_returnflag, values: [A, N, R]}
    |  - {type: regex, name: status_shape, col: l_linestatus, pattern: "^[OF]$$"}
    |  - {type: cross, name: price_covers_qty, expr: "l_extendedprice >= l_quantity"}
    |  - {type: ref, name: order_exists, col: l_orderkey, ref_col: o_orderkey,
    |     ref_table: {format: parquet, path: "${p(d.resolve("orders"))}"}}
    |transforms:
    |  - {op: derive, name: net_price, expr: "l_extendedprice * (1 - l_discount)"}
    |  - {op: join, table: {format: parquet, path: "${p(d.resolve("orders"))}"},
    |     expr: "l_orderkey = o_orderkey"}
    |  - {op: filter, expr: "l_quantity >= 5"}
    |  - {op: aggregate, cols: [o_orderpriority, l_returnflag],
    |     aggs: ["count(*) AS n", "sum(l_quantity) AS qty", "sum(net_price) AS revenue"]}
    |sink: {format: parquet, path: "${p(o.resolve("summary"))}", mode: overwrite}
    |quarantine: {format: parquet, path: "${p(o.resolve("quarantine"))}", mode: overwrite}
    |metrics_sink: {format: parquet, path: "${p(o.resolve("check_metrics"))}", mode: append}
    |""".stripMargin

  def warm(spark: SparkSession, dir: Path): Unit =
    PipelineRunner.run(spark, yaml(data.resolve("warm"), dir))

  /** One full-size run: the first run at full size is a third slower
    * (JIT of the scan and validation loops) than the ones after it. */
  override def prime(spark: SparkSession, dir: Path): Unit =
    PipelineRunner.run(spark, yaml(data, dir))

  def next(spark: SparkSession, tracer: Option[Tracer]): Op = {
    val metricsBefore = Main.dirBytes(out.resolve("check_metrics"))
    val y = yaml(data, out)
    val o = op(spark, tracer, "ingest", Some(y), rows, inBytes)(
      PipelineRunner.run(spark, y))(check(spark, _))
    written += Main.dirBytes(out.resolve("summary")) +
      Main.dirBytes(out.resolve("quarantine")) +
      Main.dirBytes(out.resolve("check_metrics")) - metricsBefore
    o
  }

  private def check(spark: SparkSession, r: RunResult): Option[String] = {
    val want = truth.get("check_fails")
    val bad = r.metrics.filter(m => want.has(m.check)).collect {
      case m if m.failCnt != want.get(m.check).asLong || m.passCnt + m.failCnt != rows =>
        s"${m.check}: pass ${m.passCnt} fail ${m.failCnt}, want fail ${want.get(m.check).asLong}"
    }
    val q = spark.read.parquet(p(out.resolve("quarantine"))).count()
    lastExtra = Map("rows_in" -> rows.toDouble, "quarantined" -> q.toDouble)
    val got = spark.read.parquet(p(out.resolve("summary"))).collect()
      .map(x => (x.getString(0), x.getString(1)) -> (x.getLong(2), x.getLong(3))).toMap
    val exp = truth.get("groups").elements.asScala.map(g =>
      (g.get("o_orderpriority").asText, g.get("l_returnflag").asText) ->
        (g.get("n").asLong, g.get("qty").asLong)).toMap
    if (r.metrics.count(m => want.has(m.check)) != want.size) Some("missing check metrics")
    else if (bad.nonEmpty) Some(bad.mkString("; "))
    else if (q != truth.get("quarantined").asLong)
      Some(s"quarantine rows $q, want ${truth.get("quarantined").asLong}")
    else if (got != exp) Some(s"summary differs: got $got, want $exp")
    else None
  }

  def bytesWritten: Long = written

  def namedMetrics(ops: Seq[Op], heapPeakMb: Double): Map[String, Any] = {
    val runs = ops.filter(_.pipeline)
    val secs = runs.map(_.ms / 1000)
    Map("run_s_p50" -> Workload.metric(Main.median(secs), "s", runs.size),
      "rows_per_s" -> Workload.metric(runs.map(_.inRows).sum / secs.sum, "rows/s", runs.size),
      "heap_peak_mb" -> Workload.metric(heapPeakMb, "MB", 1),
      "input_rows" -> rows, "input_bytes" -> inBytes)
  }
}

// ------------------------------------------------------------------ curate

/** Training-data curation: tokenize, quality filter, MinHash-LSH dedup,
  * decontamination, sink. */
final class Curate(data: Path, work: Path, truth: JsonNode)
    extends Workload(data, work, truth) {
  def cycleSeconds: Double = 11
  import Workload.p
  private val out = work.resolve("curate")
  private val docs = truth.get("docs").asLong
  private val inBytes = Main.dirBytes(data.resolve("documents"))
  private var written = 0L
  private val survivors = truth.get("survivors").elements.asScala.map(_.asLong).toSeq

  def yaml(d: Path, o: Path): String = s"""
    |name: perfbench_curate
    |source: {format: parquet, path: "${p(d.resolve("documents"))}"}
    |checks:
    |  - {type: not_null, name: has_text, col: text}
    |  - {type: range, name: len_band, col: n_chars, lo: 1, hi: 100000}
    |transforms:
    |  - {op: tokenize, cols: [text], name: toks}
    |  - {op: quality_filter, cols: [toks], threshold: 0.7}
    |  - {op: minhash_dedup, cols: [doc_id, toks], threshold: 0.9, bucket_cap: 2048}
    |  - {op: decontaminate, cols: [doc_id, toks], k: 5, where: "doc_id < 5",
    |     table: {format: parquet, path: "${p(d.resolve("documents"))}"}}
    |  - {op: derive, name: n_tokens, expr: "CAST(size(toks) AS BIGINT)"}
    |  - {op: select, cols: [doc_id, lang, source, n_chars, n_tokens]}
    |  - {op: sort, cols: [doc_id]}
    |assertions:
    |  - "count(*) >= 10"
    |  - "min(n_tokens) >= 1"
    |sink: {format: parquet, path: "${p(o.resolve("corpus"))}", mode: overwrite}
    |quarantine: {format: parquet, path: "${p(o.resolve("rejected"))}", mode: overwrite}
    |metrics_sink: {format: parquet, path: "${p(o.resolve("check_metrics"))}", mode: append}
    |""".stripMargin

  /** The set-up warm-up: the pipeline's checks, tokenizer and quality
    * gate on a tiny corpus. The clustering gates are left out: even on a
    * tiny corpus they run about a hundred jobs, as long as a timed run, so
    * they are warmed once by the priming pass instead. */
  def warm(spark: SparkSession, dir: Path): Unit =
    PipelineRunner.run(spark, yaml(data.resolve("warm"), dir).linesIterator
      .filterNot(l => l.contains("minhash_dedup") || l.contains("decontaminate") ||
        l.contains("table: {format: parquet, path:")).mkString("\n"))

  /** One full-size run: the session's first clustering run compiles about
    * 280 codegen classes and JITs the LSH loops, which makes it a third
    * slower than the ones after it and its time twice as noisy. */
  override def prime(spark: SparkSession, dir: Path): Unit =
    PipelineRunner.run(spark, yaml(data, dir))

  def next(spark: SparkSession, tracer: Option[Tracer]): Op = {
    val metricsBefore = Main.dirBytes(out.resolve("check_metrics"))
    val y = yaml(data, out)
    val o = op(spark, tracer, "curate", Some(y), docs, inBytes)(
      PipelineRunner.run(spark, y))(check(spark, _))
    written += Main.dirBytes(out.resolve("corpus")) +
      Main.dirBytes(out.resolve("rejected")) +
      Main.dirBytes(out.resolve("check_metrics")) - metricsBefore
    o
  }

  private def check(spark: SparkSession, r: RunResult): Option[String] = {
    val got = spark.read.parquet(p(out.resolve("corpus"))).select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    val q = spark.read.parquet(p(out.resolve("rejected"))).count()
    val gate = r.metrics.find(_.check.startsWith("gate_minhash_dedup"))
    lastExtra = Map("rows_in" -> docs.toDouble, "quarantined" -> q.toDouble) ++
      gate.map(g => "dedup_survivor_frac" -> g.passCnt.toDouble / (g.passCnt + g.failCnt))
    if (q != truth.get("null_text").asLong)
      Some(s"quarantine rows $q, want ${truth.get("null_text").asLong}")
    else if (got != survivors) {
      val (extra, missing) = (got.diff(survivors), survivors.diff(got))
      Some(s"survivors differ: ${got.size} vs ${survivors.size}; unexpected " +
        s"${extra.take(5).mkString(",")} missing ${missing.take(5).mkString(",")}")
    } else None
  }

  def bytesWritten: Long = written

  def namedMetrics(ops: Seq[Op], heapPeakMb: Double): Map[String, Any] = {
    val runs = ops.filter(_.pipeline)
    val secs = runs.map(_.ms / 1000)
    Map("run_s_p50" -> Workload.metric(Main.median(secs), "s", runs.size),
      "docs_per_s" -> Workload.metric(runs.map(_.inRows).sum / secs.sum, "docs/s", runs.size),
      "heap_peak_mb" -> Workload.metric(heapPeakMb, "MB", 1),
      "input_docs" -> docs, "input_bytes" -> inBytes)
  }
}

// ------------------------------------------------------------ table_upsert

/** Lakehouse operations after an ingest: appends, merge upserts, merge
  * deletes, predicate updates and deletes, OPTIMIZE and log checkpoints at
  * fixed intervals, snapshot and time-travel reads, and incremental
  * materialized-view refreshes, all as YAML pipelines except the log
  * checkpoint, which has no YAML form. */
final class TableUpsert(data: Path, work: Path, truth: JsonNode)
    extends Workload(data, work, truth) {
  def cycleSeconds: Double = 10
  import Workload.p
  private val root = work.resolve("orders")
  private val view = work.resolve("cust_view")
  private val plan = TableUpsert.steps(truth)
  private var pos = 0
  private val versionAfter = mutable.Map.empty[Int, Long]
  private var baseline: Set[Path] = Set.empty
  private var timedFrom = 0    // plan position of the first timed operation

  /** The set-up warm-up: a tiny table and one merge into it. */
  def warm(spark: SparkSession, dir: Path): Unit = {
    val w = new TableUpsert(data.resolve("warm"), dir, truth.get("warm"))
    PipelineRunner.run(spark, w.writeYaml(-1, "overwrite"))
    PipelineRunner.run(spark, w.writeYaml(1, "merge"))
  }

  /** The first cycle of the mix, untimed but checked, on the base table:
    * the session's first cycle is a quarter slower (JIT, codegen) than the
    * ones after it. */
  override def prime(spark: SparkSession, dir: Path): Unit = {
    do primed += next(spark, None) while (!atBoundary)
    baseline = tableFiles.keySet
    timedFrom = pos
  }

  override def prepare(spark: SparkSession): Unit = {
    // the base table: tens of files, each a key range (a sorted write)
    val conf = spark.conf
    conf.set("spark.sql.shuffle.partitions", truth.get("base_files").asText)
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try PipelineRunner.run(spark, s"""
      |name: perfbench_base
      |source: {format: parquet, path: "${p(data.resolve("base"))}"}
      |transforms: [{op: sort, cols: [o_orderkey]}]
      |sink: {format: graft_table, path: "${p(root)}", mode: overwrite}
      |""".stripMargin)
    finally {
      conf.set("spark.sql.shuffle.partitions", Main.nproc.toString)
      conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
    PipelineRunner.run(spark, maintenance("set_property", "set: {changeDataFeed: \"true\"}"))
    PipelineRunner.run(spark, mvYaml)
    baseline = tableFiles.keySet
  }

  override def hasNext: Boolean = pos < plan.size

  override def atBoundary: Boolean = !hasNext || {
    val (kind, t) = plan(pos)
    kind == t.get("kind").asText && t.get("i").asInt % truth.get("cycle").asInt == 0
  }

  /** The traced run's counters cover the first timed cycle of the mix. */
  override def minOps(trace: Boolean): Int =
    if (!trace) 1
    else {
      val end = plan(timedFrom)._2.get("i").asInt + truth.get("cycle").asInt
      (plan.indexWhere(_._2.get("i").asInt >= end) match {
        case -1 => plan.size
        case n => n
      }) - timedFrom
    }

  private def tableFiles: Map[Path, Long] =
    (Main.files(root) ++ Main.files(view)).filter { case (f, _) =>
      !f.toString.contains("_graft_log") }

  private def maintenance(opName: String, body: String): String = s"""
    |name: perfbench_$opName
    |mode: maintenance
    |maintenance: {op: $opName, path: "${p(root)}", $body}
    |""".stripMargin

  private def mvYaml: String = s"""
    |name: perfbench_view
    |mode: mv_refresh
    |source: {format: graft_table, path: "${p(root)}"}
    |mv:
    |  path: "${p(view)}"
    |  keys: [o_custkey]
    |  aggs: ["count() AS n", "count(o_totalcents) AS n_total", "sum(o_totalcents) AS total"]
    |""".stripMargin

  private def writeYaml(i: Int, mode: String): String = s"""
    |name: perfbench_$mode
    |source: {format: parquet, path: "${p(if (i < 0) data.resolve("base") else batch(i))}"}
    |sink: {format: graft_table, path: "${p(root)}", mode: $mode${
      if (mode == "merge" || mode == "delete") ", options: {on: o_orderkey}" else ""}}
    |""".stripMargin

  private def readYaml(asOf: Option[Long]): String = s"""
    |name: perfbench_read
    |source: {format: graft_table, path: "${p(root)}"${
      asOf.fold("")(v => s""", options: {versionAsOf: "$v"}""")}}
    |transforms:
    |  - {op: derive, name: h, expr: "${TableUpsert.RowHash}"}
    |  - {op: aggregate, aggs: ["count(*) AS n", "sum(h) AS hs"]}
    |""".stripMargin

  private def batch(i: Int): Path = data.resolve("changes").resolve(f"op$i%04d")

  def next(spark: SparkSession, tracer: Option[Tracer]): Op = {
    val (kind, t) = plan(pos)
    pos += 1
    val i = t.get("i").asInt
    val rows = if (t.has("rows")) t.get("rows").asLong else 0L
    val bytes = if (t.has("bytes")) t.get("bytes").asLong else 0L
    val before = if (tracer.isDefined && TableUpsert.commits(kind))
      Some(tracer.get.span("tables.snapshot", step)(GraftTable.snapshot(p(root)))._1) else None
    def run(y: String) = op(spark, tracer, kind, Some(y), rows, bytes)(
      PipelineRunner.run(spark, y)) _
    val o = kind match {
      case "append" => run(writeYaml(i, "append"))(_ => committed(spark, i, t))
      case "merge" => run(writeYaml(i, "merge"))(_ => committed(spark, i, t))
      case "delete" => run(writeYaml(i, "delete"))(_ => committed(spark, i, t))
      case "update_where" => run(maintenance("update_where",
        s"""where: "o_custkey = ${t.get("custkey").asLong}", """ +
          "set: {o_totalcents: \"o_totalcents + 1\", o_version: \"o_version + 1\"}"))(
        _ => committed(spark, i, t))
      case "delete_where" => run(maintenance("delete_where",
        s"""where: "o_custkey = ${t.get("custkey").asLong}""""))(_ => committed(spark, i, t))
      case "optimize" => run(maintenance("optimize",
        s"target_files: ${truth.get("base_files").asInt}"))(_ => stateMatches(spark, None, t))
      case "read_latest" | "read_asof" =>
        val target = if (kind == "read_asof") t.get("target").asInt else i
        val asOf = if (kind == "read_asof") versionAfter.get(target) else None
        val y = readYaml(asOf)
        op(spark, tracer, kind, Some(y), 0, 0)(
          PipelineRunner.run(spark, y).passed.collect().head)(r =>
          compare(r.getLong(0), r.getLong(1), truth.get("ops").get(target), "table"))
      case "mv_refresh" =>
        run(mvYaml)(r => {
          val h = r.passed.agg(count(lit(1)), sum(expr(TableUpsert.ViewHash))).head()
          val want = t
          if (h.getLong(0) != want.get("mv_count").asLong ||
              h.getLong(1) != want.get("mv_hash").asLong)
            Some(s"view has ${h.getLong(0)} groups hash ${h.getLong(1)}, want " +
              s"${want.get("mv_count").asLong} / ${want.get("mv_hash").asLong}")
          else None
        })
      case "checkpoint" =>
        op(spark, tracer, kind, None, 0, 0)(GraftTable.checkpoint(p(root)))(_ =>
          if (GraftTable.rowCount(p(root)) != t.get("count").asLong) Some("row count drifted")
          else None)
    }
    // the traced run diffs the snapshots around each commit
    val diff = for (tr <- tracer; b <- before) yield {
      val (after, snapMs) = tr.span("tables.snapshot", o.idx)(GraftTable.snapshot(p(root)))
      val added = after.files.toSet -- b.files
      val addedBytes = added.toSeq.map(f => Try(Files.size(resolve(f))).getOrElse(0L)).sum
      Map("files_added" -> added.size.toDouble,
        "files_removed" -> (b.files.toSet -- after.files).size.toDouble,
        "bytes_added" -> addedBytes.toDouble, "changed_rows" -> rows.toDouble,
        "log_version" -> after.version.toDouble, "live_files" -> after.files.size.toDouble,
        "snapshot_ms" -> snapMs)
    }
    o.copy(extra = o.extra ++ diff.getOrElse(Map.empty))
  }

  private def resolve(f: String): Path = {
    val q = Paths.get(f.stripPrefix("file:"))
    if (q.isAbsolute) q else root.resolve(q)
  }

  /** After a commit: record its version, then check the table. */
  private def committed(spark: SparkSession, i: Int, t: JsonNode): Option[String] = {
    versionAfter(i) = GraftTable.latestVersion(p(root)).get
    stateMatches(spark, Some(i), t)
  }

  /** Row count (from the log) and content hash (a full scan) against the
    * reference state after truth op `t`. */
  private def stateMatches(spark: SparkSession, i: Option[Int], t: JsonNode): Option[String] = {
    val n = GraftTable.rowCount(p(root))
    val h = GraftTable.read(spark, p(root)).agg(count(lit(1)), sum(expr(TableUpsert.RowHash))).head()
    if (n != h.getLong(0)) Some(s"log row count $n but scan sees ${h.getLong(0)}")
    else compare(h.getLong(0), h.getLong(1), t, "table")
  }

  private def compare(n: Long, hash: Long, t: JsonNode, what: String): Option[String] =
    if (n == t.get("count").asLong && hash == t.get("hash").asLong) None
    else Some(s"$what has $n rows hash $hash, want ${t.get("count").asLong} / ${t.get("hash").asLong}")

  def bytesWritten: Long = tableFiles.collect { case (f, s) if !baseline(f) => s }.sum

  def namedMetrics(ops: Seq[Op], heapPeakMb: Double): Map[String, Any] = {
    def ms(kinds: Set[String]) = ops.filter(o => kinds(o.kind)).map(_.ms)
    val commit = ms(TableUpsert.commits)
    val beyond90 = commit.size - math.ceil(0.9 * commit.size).toInt
    val timed = ops.filter(_.pipeline)
    Map(
      "commit_ms_p50" -> Workload.metric(Main.median(commit), "ms", commit.size),
      "commit_ms_p90" -> (Workload.metric(Main.pct(commit, 0.9), "ms", commit.size) ++
        Map("samples_beyond" -> beyond90)),
      "merge_ms_p50" -> Workload.metric(Main.median(ms(Set("merge", "delete"))), "ms",
        ms(Set("merge", "delete")).size),
      "read_ms_p50" -> Workload.metric(Main.median(ms(Set("read_latest", "read_asof"))), "ms",
        ms(Set("read_latest", "read_asof")).size),
      "mv_refresh_ms_p50" -> Workload.metric(Main.median(ms(Set("mv_refresh"))), "ms",
        ms(Set("mv_refresh")).size),
      "write_amp" -> Workload.metric(bytesWritten.toDouble / timed.map(_.inBytes).sum, "ratio",
        timed.size),
      "heap_peak_mb" -> Workload.metric(heapPeakMb, "MB", 1),
      "recent_key_share" -> truth.get("recent_key_share").asDouble,
      "base_rows" -> truth.get("base_rows").asLong)
  }
}

object TableUpsert {
  val commits = Set("append", "merge", "delete", "update_where", "delete_where", "optimize")

  /** Order-independent content hash, as the generator computes it. */
  val RowHash = "crc32(concat_ws('|', cast(o_orderkey AS string), " +
    "cast(o_custkey AS string), o_orderstatus, cast(o_totalcents AS string), " +
    "cast(o_version AS string), o_clerk))"
  val ViewHash = "crc32(concat_ws('|', cast(o_custkey AS string), cast(n AS string), " +
    "cast(n_total AS string), cast(total AS string)))"

  /** The generator's ops, with log checkpoints and OPTIMIZE runs inserted
    * where the generator scheduled them. */
  def steps(truth: JsonNode): IndexedSeq[(String, JsonNode)] =
    truth.get("ops").elements.asScala.toIndexedSeq.flatMap { t =>
      Seq(t.get("kind").asText -> t) ++
        (if (t.path("checkpoint_after").asBoolean(false)) Seq("checkpoint" -> t) else Nil) ++
        (if (t.get("optimize_after").asBoolean) Seq("optimize" -> t) else Nil)
    }
}
