package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites get it
  * via getOrCreate so ordering doesn't matter).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = SparkSpec.sf0001

  /** The session's encoders and `$"col"`: `import sqlImplicits._`. */
  protected lazy val sqlImplicits = spark.implicits

  protected def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Jobs started while `body` runs. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val out = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)
    (out, n.get)
  }

  /** Runs `body` with `l` registered, and returns once every event `body`
    * caused has reached `l` (Spark delivers them on its own thread).
    */
  protected def listening[T](l: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      out
    } finally sc.removeSparkListener(l)
  }

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
  val sf0001 = "/root/testdata/sf0.001"

  lazy val session: SparkSession = {
    // 4 cores whatever the host: ShuffleBudgetSpec's baseline depends on it
    val s = Session.builder("graft-test", cores = 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
