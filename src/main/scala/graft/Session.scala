package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every graft driver, tool and test
  * starts from: `local[cores]` with one shuffle partition per core, AQE on,
  * UTC session time and no UI. Callers add their own settings to the
  * returned builder and set their own log level.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def defaultCores: Int = Knobs.positiveInt("SPARK_GRAFT_CPUS",
    sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors)

  /** Generated-class cache entries (a static conf; Spark's default is 100).
    * A multi-query driver compiles ~6-10 codegen units per distinct plan
    * shape, so the default LRU thrashes and every repeat execution re-pays
    * Janino compilation (~40-150 ms per query). Sized to hold the working
    * set, repeats are compile-free: −37% on the bench's 96 sub-1.5 s
    * queries, min-of-3. It caches bytecode keyed on generated source,
    * never data or results.
    */
  val CodegenCacheEntries = 8192

  def builder(appName: String, cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
}
