package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built, and the cleanup that runs
  * between queries. Operators never build sessions; they read the one
  * they are given. */
object Session {

  /** A `local[cpus]` session with the engine's local-mode settings;
    * `warehouse` overrides `spark.sql.warehouse.dir`. */
  def local(cpus: Int, warehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // local-mode knob: the test parquet files are single small splits,
      // which would serialize CPU-bound per-row operators (hashing,
      // signatures) onto one core. Splitting at 16 KiB spreads even the
      // ~600 KB documents file over all local cores (the tokenize/shingle
      // explodes amplify each split's work far beyond its bytes); at real
      // scale inputs arrive as thousands of splits and these two settings
      // are left at their defaults.
      .config("spark.sql.files.openCostInBytes", "16384")
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      // the whole-stage-codegen class cache is JVM-GLOBAL and defaults to
      // 100 entries; a 210-query suite generates thousands of distinct
      // codegen'd stages, so late-suite queries evict early ones and every
      // repetition recompiles (janino) and re-JITs inside the timers. At
      // ~50 KB per cached class this is ~200 MB of heap. A long-lived
      // production session running a diverse query mix wants the same
      // headroom; it is not a local-only knob.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // NO eager shuffle-file cleanup
      // (spark.sql.classic.shuffleDependency.fileCleanup.enabled): the
      // iteration-class operators run many actions over the SAME
      // DataFrames per query, and Spark reuses the earlier actions' map
      // outputs via MapOutputTracker — eager per-execution deletion throws
      // that reuse away and every round recomputes its predecessors'
      // shuffles (measured 3-8x slower: c9 7 -> 58 s, g10 6.5 -> 18.6 s).
      // `reap` between queries, outside the timers, is the cleanup.
      .config("spark.ui.enabled", "false")
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // reap's unpersist of locally-checkpointed RDDs makes org.apache.spark.rdd
    // emit one "lineage has been truncated" WARN per RDD — thousands per
    // suite, enough to push a run's summary line out of a captured log
    // tail. The unpersist is deliberate, so the warning carries no
    // information: silence the package.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Between-query cleanup, to run outside any timer: drops every cached
    * plan and persisted RDD and lets the context cleaner release the
    * dropped broadcasts and shuffles. */
  def reap(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // Leftover persisted blocks (e.g. an operator's final eager
    // checkpoint, which has no recompute path and so must stay alive
    // for its caller) and GC-driven broadcast/shuffle cleanup both
    // otherwise land INSIDE a later query's timer — measured as 2-4x
    // swings on whichever heavy query happened to absorb the cleanup.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    // ContextCleaner drains its reference queue ASYNCHRONOUSLY after
    // the gc — give it a beat so broadcast/shuffle removals don't
    // spill into the next query's timer.
    Thread.sleep(150)
  }
}
