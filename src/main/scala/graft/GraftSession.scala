package graft

import org.apache.spark.sql.SparkSession

/** Canonical session settings for the engine.
  *
  * Centralised so Verify/Bench/tests all run with the same semantics:
  *  - UTC session timezone (oracle parity with DuckDB)
  *  - AQE on (runtime shuffle-partition coalescing + skew-join splitting —
  *    the behaviour we rely on at cluster scale)
  *  - `nanosAsLong`: earlier testdata generations stored `events.ts` as
  *    TIMESTAMP(NANOS), which Spark 4 otherwise refuses to read; with the
  *    conf those files arrive as raw nanos longs. Current generations use
  *    native `timestamp[us]`. Both storage dtypes flow through the
  *    adaptive [[graft.ops.EventStreams.eventTs]] accessor family, so the
  *    conf is a compatibility keep, not a semantic switch.
  */
object GraftSession {
  private val warehouseDir =
    s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}"

  // per-process warehouse dirs would otherwise accumulate in /tmp, one
  // per bench/verify/test JVM (~tens of MB each once q44 has written
  // its bucketed tables)
  sys.addShutdownHook {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(warehouseDir))
  }

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // managed tables (the bucketed-join path) must never land in the
    // process cwd's ./spark-warehouse — Verify/Bench run from the repo.
    // Per-process dir: two JVMs (bench + tests) sharing one warehouse
    // would interleave q44's DROP/delete/saveAsTable on the same paths
    .config("spark.sql.warehouse.dir", warehouseDir)

  def local(cores: Int = 4): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
