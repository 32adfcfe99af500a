package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession's conf is set. Every entry point (Bench,
  * Verify, Explain, the shared test session) starts here,
  * choosing only its thread count and adding what is its own before
  * `getOrCreate()`.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet and the reference's cleaned O*NET parquet carry
      // INT64 TIMESTAMP(NANOS), unreadable by the native parquet reader;
      // read them as nano-longs and convert explicitly (RefQueries.table).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The generated-class cache defaults to 100 entries; a session
      // serving 315 distinct queries in interleaved passes evicts
      // every query's classes between its own samples, so each timed
      // run re-pays Janino compilation (~0.1-0.3 s/query — measured as
      // a uniform ~1.5× gap between in-sweep and isolated times). A
      // long-lived analytics session serving hundreds of distinct
      // plans wants the cache sized to its working set: bounded driver
      // memory (generated classes, ~tens of MB at 10k entries) traded
      // for not recompiling hot queries — the same reasoning a 128 GiB
      // production driver would apply. Static conf: must be set before
      // the session is built.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
}
