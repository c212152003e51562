package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory tuned for the graft engine.
  *
  * Local testing runs `local[32]` in one JVM, but every default here is
  * chosen to also make sense on a multi-executor cluster: AQE handles
  * runtime re-planning (skew joins, partition coalescing), shuffle
  * partitions match local cores (override on a real cluster), and the
  * session timezone is pinned to UTC for oracle parity.
  */
object Engine {
  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). It is about 2×
    * the largest repeating working set measured on the benchmark inputs
    * (4 vCPU, `local[4]`): one corpus_kernels round of 12 ops uses about
    * 270 distinct generated classes, so at 100 every steady-state round
    * recompiled 257–285 of them (14.1 s per round against 9.4 s with
    * none recompiled); at 256 a round still recompiled 32–73; at 512 no
    * round after the first recompiles any. A table_writes cycle drops
    * from 193–210 compiles to the 58 whose numeric literals change from
    * one op to the next at either cap. Each entry keeps about 35 KB of old
    * generation (peak heap +5.7 MB for about 170 more entries), so a full
    * cache holds about 18 MB. The cache is created once per JVM, when code
    * is first generated, so only the first session's value takes effect. */
  private val CodegenCacheEntries = 512

  def session(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // per-process warehouse: concurrent JVMs (driver Verify + a local
      // Sweep/Bench) must never scan/rewrite each other's managed tables
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse_${ProcessHandle.current().pid()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
