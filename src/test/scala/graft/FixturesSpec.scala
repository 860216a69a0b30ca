package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Driver-data drift tripwire (VERDICT r13 task 2).
  *
  * Round 13 lesson: the driver regenerated events.parquet with `ts` as
  * TIMESTAMP(MICROS) (rounds 1–12: TIMESTAMP(NANOS)) and the silent dtype
  * change broke 21 registered queries and 7 tests at once. This spec makes
  * the NEXT such regeneration cost one red test with a message naming the
  * drifted column, instead of 21 opaque failures:
  *
  *   1. every driver table's measured Spark schema is asserted against the
  *      FIXTURES.md contract, column by column;
  *   2. Tables.events / StreamOps.eventsSchema are proven type-adaptive by
  *      loading BOTH physical encodings from checked-in 5-row samples
  *      (src/test/resources/fixtures/events_{nanos,micros}.parquet — same
  *      logical instants, written by pyarrow) and asserting the normalized
  *      contract (`ts` BIGINT epoch-nanos, `event_ts` TIMESTAMP_NTZ) and
  *      value agreement at µs precision.
  */
class FixturesSpec extends SparkSpecBase {

  // FIXTURES.md schema contract, as (table, column -> expected Spark type).
  // events.ts is special-cased: two physical encodings are supported.
  private val contract: Seq[(String, Seq[(String, DataType)])] = Seq(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))

  test("driver tables match the FIXTURES.md schema contract (drift tripwire)") {
    val drifted = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((t, cols) <- contract) {
      val actual = spark.read.parquet(s"$sf/$t.parquet").schema
      val actualM = actual.fields.map(f => f.name -> f.dataType).toMap
      for ((c, expected) <- cols) actualM.get(c) match {
        case None => drifted += s"$t.$c: MISSING (driver dropped/renamed it)"
        case Some(dt) if dt != expected =>
          drifted += s"$t.$c: expected ${expected.sql}, driver now ships ${dt.sql}"
        case _ =>
      }
      val extras = actualM.keySet -- cols.map(_._1).toSet
      if (extras.nonEmpty) drifted += s"$t: new columns ${extras.mkString(",")}"
    }
    // events: ts has exactly two supported physical encodings
    val ets = spark.read.parquet(s"$sf/events.parquet").schema
    val etsM = ets.fields.map(f => f.name -> f.dataType).toMap
    for ((c, expected) <- Seq("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
      if (!etsM.get(c).contains(expected))
        drifted += s"events.$c: expected ${expected.sql}, got ${etsM.get(c).map(_.sql)}"
    etsM.get("ts") match {
      case Some(LongType) | Some(TimestampNTZType) | Some(TimestampType) => // ok
      case other => drifted +=
        s"events.ts: unsupported physical type $other — Tables.events cannot adapt"
    }
    withClue("DRIVER DATA DRIFT — regenerate recipes for these columns:\n  " +
      drifted.mkString("\n  ") + "\n") { drifted shouldBe empty }
  }

  /** Copy a resource sample into a temp dir as events.parquet (the loader
    * contract is dir-based). */
  private def sampleDir(name: String): String = {
    val dir = Files.createTempDirectory(s"graft_fix_$name")
    val in = getClass.getResourceAsStream(s"/fixtures/$name.parquet")
    require(in != null, s"missing test resource fixtures/$name.parquet")
    try Files.copy(in, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    dir.toString
  }

  test("Tables.events normalizes BOTH nanos and micros files to one contract") {
    val dirs = Map("nanos" -> sampleDir("events_nanos"),
                   "micros" -> sampleDir("events_micros"))
    // physical probe sees through to the file type
    Tables.eventsTsIsLong(spark, dirs("nanos")) shouldBe true
    Tables.eventsTsIsLong(spark, dirs("micros")) shouldBe false

    val loaded = dirs.map { case (k, d) => k -> Tables.events(spark, d) }
    for ((k, df) <- loaded) withClue(s"[$k] ") {
      df.schema("ts").dataType shouldBe LongType          // epoch-nanos
      df.schema("event_ts").dataType shouldBe TimestampNTZType
      df.columns.toSeq shouldBe
        Seq("event_id", "ts", "user_id", "event_type", "value", "props", "event_ts")
    }
    // same logical instants → identical event_ts and µs-truncated ts on
    // both paths (the nanos sample carries one sub-µs residue on purpose;
    // only `ts div 1000` — the µs view — is comparable across encodings)
    def collect(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("event_ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet
    collect(loaded("nanos")) shouldBe collect(loaded("micros"))
    // and the nanos path preserves full nanosecond resolution in `ts`
    val nsResidues = loaded("nanos").select(expr("ts % 1000")).collect().map(_.getLong(0))
    nsResidues should contain(123L)
  }

  test("StreamOps.eventsSchema probes the physical ts type per directory") {
    val nanosDir = sampleDir("events_nanos")
    val microsDir = sampleDir("events_micros")
    graft.streaming.StreamOps.eventsSchema(spark, nanosDir)("ts").dataType shouldBe
      LongType // nanos file declared nanos-as-BIGINT under the legacy conf
    graft.streaming.StreamOps.eventsSchema(spark, microsDir)("ts").dataType shouldBe
      TimestampNTZType
  }

  test("GraftSession.build(n) pins UTC, nanosAsLong and n shuffle partitions " +
      "(the conf guards in Tables.events / StreamOps.eventsStream are no-ops)") {
    spark // the shared session exists; build re-applies its SQL confs to it
    val s = GraftSession.build(3)
    try {
      s.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
      s.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
      s.conf.get("spark.sql.shuffle.partitions") shouldBe "3"
    } finally GraftSession.build(TestSpark.cpus)
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe TestSpark.cpus.toString
  }
}
