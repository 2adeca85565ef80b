package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites get it
  * via getOrCreate so ordering doesn't matter).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Write planted tables as parquet fixtures under `dir` and return it —
    * shared by the planted-ground-truth suites.
    */
  protected def plant(dir: String,
                      tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // 4 cores whatever the host: ShuffleBudgetSpec's baseline depends on it
    val s = Session.builder("graft-test", cores = 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
