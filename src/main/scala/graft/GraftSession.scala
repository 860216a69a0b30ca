package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe every graft entry point shares — Bench,
  * Verify, Dev and the test suite's TestSpark — so the plans a dev tool
  * prints and the plans a spec asserts are the plans the bench runs.
  *
  *  - `local[cpus]` with `shuffle.partitions = cpus` (AQE coalesces the
  *    partitions where the data is small);
  *  - session zone pinned to UTC;
  *  - `parquet.nanosAsLong`: events.parquet may carry TIMESTAMP(NANOS),
  *    set at build time so no plan depends on whether `Tables.events` ran
  *    first (its own conf guard is then a no-op);
  *  - UI off. */
object GraftSession {
  /** Cores for the driver-run mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def build(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
