package graft

import org.apache.spark.sql.SparkSession

/** Session-creation defaults every graft entry point applies at BUILDER
  * time — the confs the engine's semantics assume, set before the first
  * plan and never mutated afterwards.
  *
  * Why builder-time and not `session.conf.set`: a runtime set on a
  * caller's session is a session-global mutation — it leaks into every
  * other plan that session runs (the r07 INT96 near-miss flipped 12/114
  * oracle dumps exactly this way, PLANS.md). Confs written into the
  * builder land in the context's SparkConf, so every `newSession()`
  * child (Drain's drain sessions, SourcesStreaming's stats writer)
  * inherits them at creation with no post-hoc mutation anywhere.
  *
  *  - `spark.sql.session.timeZone=UTC`: the oracle (DuckDB) reads naive
  *    timestamps; a UTC session zone makes Spark's session-zoned
  *    TimestampType value-identical.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the driver's events
  *    generator has shipped `ts` as a nanosecond parquet timestamp in
  *    some vintages — unreadable by Spark without this flag.
  *    [[Tables.events]] dispatches on the arrived type (raw long nanos
  *    vs TIMESTAMP_NTZ vs timestamp) and normalizes; the flag only
  *    changes how otherwise-unreadable TIMESTAMP(NANOS) columns arrive,
  *    so it is safe to pin globally.
  *  - `spark.sql.warehouse.dir` → a fresh temp dir: catalog-table
  *    writes (r08's bucketed tables) must not drop a `spark-warehouse`
  *    directory into whatever cwd the process launched from. A
  *    deployment embedding the library sets its real warehouse by
  *    adding its own `.config(...)` AFTER `graftDefaults` (later
  *    builder writes win).
  */
object Sessions {
  // ONE scratch warehouse per JVM, created lazily at first builder use:
  // graftDefaults is called by every entry point (often on builders
  // whose getOrCreate returns an existing session and ignores the
  // conf), so a per-call createTempDirectory would leak an empty dir
  // per invocation
  private lazy val scratchWarehouse: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  def graftDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", scratchWarehouse)
      // Codegen class cache sized to a CATALOG-serving workload: the
      // Spark default (100 compiled classes, a STATIC conf — settable
      // only here at builder time) thrashes when a session serves
      // hundreds of distinct recurring plans, recompiling every
      // whole-stage unit on every recurrence. 4096 entries holds the
      // full 128-query catalog's units (~1-2k) so recurring runs reuse
      // compiled classes (A/B in PLANS.md round 13).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
}
