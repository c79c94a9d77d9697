package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local runs mirror the driver harness (`local[32]`, 128 GiB heap) but
  * every setting is chosen to transfer to a multi-executor cluster:
  *   - `spark.sql.shuffle.partitions` sized to cores (not the 200
  *     default) — on a real cluster set it to 2-3× total executor cores;
  *     AQE re-coalesces at runtime either way.
  *   - AQE on (partition coalescing + skew-join splitting) so plans
  *     survive a 100× scale-up without manual retuning.
  *   - UTC session time zone for timestamp parity with the oracle.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def build(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // codegen source-text LRU: Spark's default 100 entries thrashes
      // under this engine's workload — one CC query alone compiles
      // ~130 distinct stage sources, so EVERY execution recompiled
      // ~everything (codegen-cache receipts, docs/PLANS.md r17: n58
      // 129/129/130 Janino compiles across back-to-back runs at 100;
      // 96/0/4 at 4096 — the sources repeat, the cache was just too
      // small). 4096 holds the full sweep's working set; the cost is
      // retained generated-class metadata (~tens of KB each), nothing
      // next to the 5–7 s/run of concurrent JIT the misses burned.
      // Same lever per executor JVM on a cluster.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // drop the per-plan stage id from generated class names
      // (default true, debugging aid only — SPARK-23032): with the id
      // baked in, two textually identical stages at different plan
      // positions can NEVER share a codegen-cache entry, so every CC
      // round / repeated pipeline fragment recompiled per position.
      // Codegen receipts (docs/PLANS.md r18): n58 first-touch Janino
      // compiles 146 → 130 and first-touch wall 25.3 → 20.0 s in the
      // same regime; back-to-back re-execution compiles 4 → 0 (the
      // residual misses were positional aliases of cached stages).
      // Per-JVM, transfers to executor JVMs unchanged.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    installOptimizations(spark)
    spark
  }

  /** Drop every materialized block the previous query left behind:
    * catalog-cached relations AND RDD-layer blocks (localCheckpoint
    * generations from iterative operators — clearCache cannot see
    * those). Blocking, so a caller that follows with `System.gc()` sees
    * the blocks already gone instead of billing their removal to the
    * next timed query. Harness hygiene — shared by Bench, BenchOne,
    * Verify and ScaleProbe so the reap is one definition, not four.
    */
  def dropAllBlocks(spark: SparkSession, blocking: Boolean = true): Unit = {
    // forget tracked diamond persists first (built-but-never-executed
    // plans have no completion event for DiamondCaches to release on)
    DiamondCaches.drain()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
    // Memory-sink tables from completed streaming queries: each holds
    // its full result rows on the driver for the life of the session
    // and nothing ever dropped them — an r15 sweep-prefix experiment
    // counted 41 → 72 registered graft_stream_* sinks across one
    // harness session. Rows are monitor-card-sized today (no measured
    // cost), but the leak is unbounded with registry growth; every
    // sink is consumed within its own query's window, so reaping
    // between queries is safe.
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_"))
      .foreach(spark.catalog.dropTempView(_))
  }

  /** Run `body` with session conf `key` set to `value`, then put the
    * key back as it was — restored to its previous value, or unset if
    * it had none — even when `body` throws. The one scoped override for
    * query-local settings (streaming state partitions, state-store
    * provider).
    */
  def withConf[A](spark: SparkSession, key: String, value: String)(
      body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Engine optimizer rules for a live session (the
    * `spark.sql.extensions=graft.GraftExtensions` path installs the
    * same set at build time). Idempotent.
    */
  def installOptimizations(spark: SparkSession): Unit = {
    val rules = Seq(graft.expressions.RewriteSizeOfSplit)
    val current = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      current ++ rules.filterNot(current.contains)
  }
}
