package graft

/** The shared test session comes from [[Session]]; this pins the conf it
  * sets, so a drift from the values other harnesses copy shows up here.
  */
class SessionSpec extends SparkSpec {

  test("the test session carries graft.Session's conf at 4 cores") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
  }
}
