package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main (Bench, Verify, the plan
  * tools) and the spec suite build their session here, so a measurement,
  * a correctness dump and a plan snapshot all run under the same confs.
  */
object Session {

  /** A local session on `cpus` cores with the engine's session policy:
    *
    *  - `local[cpus]` with `cpus` shuffle partitions;
    *  - UI off, session time zone UTC;
    *  - `events.parquet` is TIMESTAMP(NANOS): read it as long
    *    (`Tables.events` converts);
    *  - timestamps written as INT64 micros, the physical form DuckDB emits;
    *  - codegen-class cache sized to the suite instead of the 100-entry
    *    default. Measured (round 21): a single heavy query
    *    (ann_ivf_pq_res_trained) compiles 118 codegen units, so the LRU
    *    default evicts its own entries mid-query — its SECOND run
    *    recompiled 119 units (zero hits); with a 10k cache the rerun
    *    recompiles 0 and shared trunk subplans hit ACROSS queries
    *    (ann_ivf_pq_rerank round 1: 126 -> 28 compiles). Each miss is a
    *    ~20-100 ms Janino compile on the hot path. Cost is bounded
    *    generated-class memory;
    *  - the SQL surface of [[GraftExtensions]];
    *  - log level WARN.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
