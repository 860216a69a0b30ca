package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** The one dev entry point, on the same [[GraftSession]] as Bench
  * (`local[$SPARK_GRAFT_CPUS]`), so what it prints is what the bench runs:
  *
  *   runMain graft.Dev show <query> [sfDir]       run one query, .show() it
  *   runMain graft.Dev show --parquet <path>      print a parquet output
  *   runMain graft.Dev plans <outDir> <suffix> [q1,q2,...] [sfDir]
  *       `.explain("formatted")` per query to `<outDir>/<query>_<suffix>.txt`
  *       — the before/after plan evidence committed under `plans/rNN/`;
  *       with no query names, the headline list below
  *   runMain graft.Dev op_dissect [sfDir]         lakehouse op job census
  *   runMain graft.Dev l16_dissect [sfDir]        l16 phase job census
  *
  * Never part of the declared query surface. Bad arguments print [[usage]]
  * and exit 2 before any Spark session starts. */
object Dev {
  val usage: String =
    "usage: graft.Dev show <query> [sfDir] | show --parquet <path> | " +
      "plans <outDir> <suffix> [q1,q2,...] [sfDir] | op_dissect [sfDir] | " +
      "l16_dissect [sfDir]"

  sealed trait Cmd
  final case class Show(query: String, sfDir: String) extends Cmd
  final case class ShowParquet(path: String) extends Cmd
  final case class Plans(outDir: String, suffix: String, queries: Seq[String],
      sfDir: String) extends Cmd
  final case class Dissect(name: String, sfDir: String) extends Cmd

  private val smallSf = "/root/testdata/sf0.001"
  private val benchSf = "/root/testdata/sf0.1"

  /** Plans that pin one load-bearing shape each (PlanSpec asserts the
    * properties; `plans` without query names dumps them for review). */
  private[graft] val headline = Seq(
    "pricing_summary",     // scan + filter pushdown + two-phase agg
    "d1_broadcast_join",   // pinned broadcasts
    "d2_sortmerge_join",   // big-big shuffle join under AQE
    "d7_asof_join",        // single-shuffle window construction
    "e6_rollup",           // Expand + two-phase agg
    "f3_running_sum",      // partitioned window
    "g2_ordered_limit",    // TakeOrderedAndProject
    "j5_tfidf",            // explode + two aggs + join
    "k4_topk_search",      // broadcast cross + TakeOrdered
    "k6_minhash_lsh",      // band self-join + distinct
    "k8_simhash",          // map-only fused graft_simhash + banded self-join
    "k9_srp_ann",          // fused graft_srp_sig + hamming-probe broadcast
    "g4_zorder_cluster",   // Morton bit algebra inside one codegen stage
    "j15_unigram_logprob", // tf shrink + shuffle vocab join + int-sum agg
    "ep16_config_scd2",    // single-join SCD2: one outer join + Generate
    "ep1_config_pipeline", // full YAML pipeline plan
    "g5_corpus_shuffle",   // range-partitioned sort on the seeded md5 key
    "j16_token_budget",    // distributed prefix sum: bucketed window + bcast offsets
    "j17_chunk_dedup",     // chunk window + doc window sharing one exchange
    "d10_snapshot_diff",   // one full-outer SMJ + row-local classification
    "k13_embed_quantize",  // agg-only params + broadcast map-only apply
    "j18_bpe_tokenize",    // broadcast merge table + map-only codegen apply
    "j19_window_dedup",    // window explode + one keyed election shuffle
    "ep20_config_acid_merge", // touched-file semi-join + file-pruned rewrite
    "tq3_shipping_priority",  // dim-filter → fact joins → TakeOrdered top-k
    "tq5_local_supplier_volume", // 6-table snowflake, cross-arm predicate
    "tq18_large_volume_customer", // HAVING subquery as shuffle semi-join
    "ev1_sessionize",         // two windows + rollup on ONE user_id exchange
    "ev2_funnel",             // per-stage partial aggs, no raw-event window
    "ep23_config_sessionize", // the same shape from YAML
    "ep25_graft_skipping",    // log-stat file pruning + residual filter
    "tq19_disjunctive_revenue", // cross-table OR: equi-join + CNF residue
    "tq22_sales_opportunity", // broadcast scalar cut + left-anti probe
    "k14_fuzzy_blocked_join", // ER blocking: equi-join key + levenshtein verify
    "ep26_config_version_diff", // time-traveled snapshots -> full-outer CDC
    "ep36_dv_dml",           // merge-on-read read: in-scan graft_dv_live, no join
    "ep37_column_mapping",   // renamed table: physical scan + logical project
    "ep38_catalog_table",    // DSv2 catalog read: V1Scan over GraftFileIndex
    "ep39_config_span_dedup", // span_dedup op: K-token windows, shared plan
    "i4_math",               // round-21 sort-first: derive above the exchange
    "b6_cast_conform",       // round-21 sort-first
    "c12_profile_summary")   // round-21: per-column profile, no Expand

  def parse(args: Seq[String]): Either[String, Cmd] = {
    def queries(names: Seq[String]): Either[String, Seq[String]] =
      names.filterNot(SparkEntry.queries.contains) match {
        case Seq() => Right(names)
        case unknown => Left(s"unknown queries: ${unknown.mkString(",")}")
      }
    args match {
      case Seq("show", "--parquet", path) => Right(ShowParquet(path))
      case Seq("show", "--parquet", _*) => Left("show --parquet takes one <path>")
      case Seq("show", q, sf @ _*) if sf.size <= 1 =>
        queries(Seq(q)).map(_ => Show(q, sf.headOption.getOrElse(smallSf)))
      case Seq("plans", outDir, suffix, rest @ _*) if rest.size <= 2 =>
        val named = rest.headOption.toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        queries(if (named.isEmpty) headline else named)
          .map(Plans(outDir, suffix, _, rest.lift(1).getOrElse(benchSf)))
      case Seq(cmd @ ("op_dissect" | "l16_dissect"), sf @ _*) if sf.size <= 1 =>
        Right(Dissect(cmd, sf.headOption.getOrElse(benchSf)))
      case Seq() => Left("missing subcommand")
      case Seq(cmd @ ("show" | "plans" | "op_dissect" | "l16_dissect"), _*) =>
        Left(s"bad arguments for $cmd")
      case Seq(cmd, _*) => Left(s"unknown subcommand: $cmd")
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) =>
      System.err.println(err)
      System.err.println(usage)
      sys.exit(2)
    case Right(cmd) =>
      val spark = GraftSession.build(GraftSession.envCpus)
      spark.sparkContext.setLogLevel("ERROR")
      try run(spark, cmd) finally spark.stop()
  }

  private def run(spark: SparkSession, cmd: Cmd): Unit = cmd match {
    case ShowParquet(path) =>
      val df = spark.read.parquet(path)
      df.printSchema()
      df.show(50, truncate = false)
    case Show(q, sfDir) =>
      SparkEntry.queries(q)(spark, sfDir).show(50, truncate = false)
    case Plans(outDir, suffix, names, sfDir) =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        val f = Paths.get(outDir).resolve(s"${name}_$suffix.txt")
        Files.writeString(f, plan)
        println(s"wrote $f")
      }
    case Dissect(name, sfDir) =>
      graft.ext.GraftFunctions.register(spark)
      if (name == "op_dissect") opDissect(spark, sfDir) else l16Dissect(spark, sfDir)
  }

  /** Job census behind [[tj]]: how many Spark JOBS a phase launched —
    * the per-table-op fixed-cost census (each job is one plan+codegen+
    * schedule round trip; at sf0.1 that fixed cost IS most of an op's
    * wall time, so "N jobs per op class" is the thing to shrink).
    * Listener events are async; the 150 ms drain keeps counts exact for
    * phases that end on an action (every phase here does). */
  private object JobCounter {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    /** Σ wall-clock inside jobs (submit→end), millis — the gap between
      * this and phase wall time is DRIVER work: plan/optimize/codegen,
      * log replay, footer reads, commit IO. */
    val inJobMs = new java.util.concurrent.atomic.AtomicLong
    private val startedAt =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
    @volatile private var installed = false
    def install(spark: SparkSession): Unit = synchronized {
      if (!installed) {
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs.incrementAndGet()
              startedAt.put(j.jobId, j.time)
            }
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val t0 = startedAt.remove(j.jobId)
              if (t0 != null) inJobMs.addAndGet(j.time - t0)
            }
          })
        installed = true
      }
    }
  }
  private def tj[A](spark: SparkSession, label: String)(f: => A): A = {
    JobCounter.install(spark)
    Thread.sleep(150)
    val j0 = JobCounter.jobs.get
    val m0 = JobCounter.inJobMs.get
    val t0 = System.nanoTime()
    val r = f
    val dt = (System.nanoTime() - t0) / 1e9
    Thread.sleep(150)
    val inJob = (JobCounter.inJobMs.get - m0) / 1e3
    val attr = graft.core.Attribution.snapshotJson()
    graft.core.Attribution.clear()
    println(f"[dev] $label: $dt%.2fs jobs=${JobCounter.jobs.get - j0} " +
      f"in_job=$inJob%.2fs driver=${math.max(0, dt - inJob)}%.2fs" +
      (if (attr.isEmpty) "" else s" attr=$attr"))
    r
  }

  /** Time each phase of l16 (streaming CDF -> MV) separately. */
  private def l16Dissect(spark: SparkSession, dir: String): Unit = {
    import graft.tables.GraftTable
    import graft.streaming.StreamOps
    val base = "/tmp/graft_io/l16_cdfmv_base"
    val view = "/tmp/graft_io/l16_cdfmv_view"
    StreamOps.rmrf(base); StreamOps.rmrf(view)
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    tj(spark, "v1_write") { GraftTable.write(spark, o, base, "overwrite") }
    tj(spark, "v2_setprop") { GraftTable.setProperty(base, "changeDataFeed", Some("true")) }
    tj(spark, "v3_updateWhere") { GraftTable.updateWhere(spark, base, "o_orderkey % 100 = 0",
      Map("o_totalprice" -> "o_totalprice * 2")) }
    tj(spark, "v4_deleteWhere") { GraftTable.deleteWhere(spark, base, "o_orderkey % 100 = 50") }
    val upserts = o.where(col("o_orderkey") % 100 === 25)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .unionByName(o.where(col("o_orderkey") % 100 === 75)
        .withColumn("o_orderkey", col("o_orderkey") + 5000000L))
    tj(spark, "v5_merge") { GraftTable.merge(spark, base, upserts, Seq("o_orderkey")) }
    val yaml =
      s"""name: l16_mv
         |mode: mv_refresh
         |streaming: true
         |source: {format: graft_table, path: "$base",
         |  options: {withImages: "true", maxVersionsPerTrigger: "2"}}
         |mv:
         |  path: "$view"
         |  keys: [o_orderstatus]
         |  aggs: ["count() AS n",
         |         "count(CAST(o_totalprice AS DECIMAL(12,2))) AS n_v",
         |         "sum(CAST(o_totalprice AS DECIMAL(12,2))) AS sum_v"]
         |""".stripMargin
    tj(spark, "stream_run1_v1to5") { graft.pipeline.PipelineRunner.run(spark, yaml) }
    tj(spark, "v6_updateWhere") { GraftTable.updateWhere(spark, base, "o_orderkey % 100 = 30",
      Map("o_totalprice" -> "o_totalprice + 7")) }
    val out = tj(spark, "stream_run2_replay") { graft.pipeline.PipelineRunner.run(spark, yaml).passed
      .select(col("o_orderstatus"), col("n"), col("n_v"),
        col("sum_v").cast("double").as("sum_v"))
      .orderBy(col("o_orderstatus")) }
    tj(spark, "noop_force") { out.write.format("noop").mode("overwrite").save() }
  }

  /** Phase + JOB census of the remaining heavy lakehouse queries (ep24
    * mv_refresh ladder, ep26 version diff, ep27 conditional CDC merge,
    * a7b bucketed write+join): where the seconds and the Spark jobs go,
    * op by op — the evidence base for VERDICT r21 tasks 3-5. */
  private def opDissect(spark: SparkSession, dir: String): Unit = {
    import graft.core.Tables
    import graft.tables.{GraftTable, MaterializedView}
    def rm(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    }
    // ---- ep24 mv_refresh ladder --------------------------------------
    val base = "/tmp/graft_lab/mv_base"; val mv = "/tmp/graft_lab/mv_agg"
    rm(base); rm(mv)
    val keys = Seq("o_orderstatus")
    val aggs = Seq(
      MaterializedView.AggSpec("count", "o_orderkey", "n"),
      MaterializedView.AggSpec("sum",
        "CAST(o_totalprice AS DECIMAL(12,2))", "sum_v"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    def slice(r: Int) = o.where(col("o_orderkey") % 3 === r)
    tj(spark, "ep24_v1_write") { GraftTable.write(spark, slice(0), base, "overwrite") }
    tj(spark, "ep24_mv_create") { MaterializedView.refresh(spark, base, mv, keys, aggs) }
    tj(spark, "ep24_v2_append") { GraftTable.write(spark, slice(1), base, "append") }
    tj(spark, "ep24_mv_incr") { MaterializedView.refresh(spark, base, mv, keys, aggs) }
    tj(spark, "ep24_v3_merge") { GraftTable.merge(spark, base,
      slice(0).withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey")) }
    tj(spark, "ep24_mv_full") { MaterializedView.refresh(spark, base, mv, keys, aggs) }
    tj(spark, "ep24_v4_append") { GraftTable.write(spark, slice(2), base, "append") }
    tj(spark, "ep24_mv_incr2") { MaterializedView.refresh(spark, base, mv, keys, aggs) }
    tj(spark, "ep24_read") { GraftTable.read(spark, mv)
      .orderBy(col("o_orderstatus"))
      .write.format("noop").mode("overwrite").save() }
    // ---- ep26 version diff --------------------------------------------
    val vd = "/tmp/graft_lab/vdiff"
    rm(vd)
    tj(spark, "ep26_v1_write") { GraftTable.write(spark, o, vd, "overwrite") }
    val changes = o.where(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.where(col("o_orderkey") % 100 === 50)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    tj(spark, "ep26_v2_merge") { GraftTable.merge(spark, vd, changes, Seq("o_orderkey")) }
    tj(spark, "ep26_v3_merge_del") { GraftTable.merge(spark, vd,
      o.where(col("o_orderkey") % 100 === 1), Seq("o_orderkey"), "delete") }
    tj(spark, "ep26_diff_read") { graft.pipeline.PipelineRunner.run(spark,
      s"""name: lab_vdiff
         |source: {format: graft_table, path: "$vd", options: {versionAsOf: "1"}}
         |transforms:
         |  - op: diff
         |    on: [o_orderkey]
         |    table: {format: graft_table, path: "$vd", options: {versionAsOf: "3"}}
         |  - {op: sort, cols: [o_orderkey]}
         |""".stripMargin).passed
      .write.format("noop").mode("overwrite").save() }
    // ---- ep27 conditional CDC merge ------------------------------------
    val cdc = "/tmp/graft_lab/cdc"; val cdcCh = "/tmp/graft_lab/cdc_changes"
    rm(cdc); rm(cdcCh)
    tj(spark, "ep27_v1_write") { GraftTable.write(spark, o, cdc, "overwrite") }
    tj(spark, "ep27_changes_parquet") { o.withColumn("o_totalprice",
      when(col("o_orderkey") % 2 === 0, col("o_totalprice") * 2)
        .otherwise(col("o_totalprice") * 0.5))
      .write.mode("overwrite").parquet(cdcCh) }
    tj(spark, "ep27_cond_merge") { GraftTable.merge(spark, cdc,
      spark.read.parquet(cdcCh), Seq("o_orderkey"),
      condition = Some("s.o_totalprice > t.o_totalprice")) }
    tj(spark, "ep27_read") { GraftTable.read(spark, cdc)
      .orderBy(col("o_orderkey"))
      .write.format("noop").mode("overwrite").save() }
    // ---- a7b bucketed write + join -------------------------------------
    spark.sql("DROP TABLE IF EXISTS lab_bkt_lineitem")
    spark.sql("DROP TABLE IF EXISTS lab_bkt_orders")
    rm("/tmp/graft_lab/bkt_lineitem"); rm("/tmp/graft_lab/bkt_orders")
    tj(spark, "a7b_write_lineitem") { Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .repartition(8, col("l_orderkey")) // the shipped write shape
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", "/tmp/graft_lab/bkt_lineitem")
      .saveAsTable("lab_bkt_lineitem") }
    tj(spark, "a7b_write_orders") { Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(8, col("o_orderkey")) // the shipped write shape
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", "/tmp/graft_lab/bkt_orders")
      .saveAsTable("lab_bkt_orders") }
    tj(spark, "a7b_join") {
      val l = spark.table("lab_bkt_lineitem")
      val ob = spark.table("lab_bkt_orders").hint("merge")
      l.join(ob, l("l_orderkey") === ob("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          graft.core.Det.money(sum(graft.core.Det.dec2(col("l_quantity"))))
            .as("sum_qty"))
        .orderBy(col("o_orderpriority"))
        .write.format("noop").mode("overwrite").save() }
  }
}
