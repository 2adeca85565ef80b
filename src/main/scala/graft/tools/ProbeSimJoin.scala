package graft.tools

/** Stage-level perf probe for SimJoin.jaccardJoin (the suite's most
  * expensive legitimate query): times tokenize+freq, prefix build,
  * raw candidate generation, candidate distinct, and the verify rejoin
  * separately so optimization effort lands where the time actually is.
  *
  * `runMain graft.tools.ProbeSimJoin <sfDir> [threshold]`
  */
object ProbeSimJoin {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.9
    val spark = graft.Session.builder("graft-probe-simjoin").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.format("noop").mode("overwrite").save() // warm-up

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[simjoin-probe] $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    (1 to 2).foreach { pass =>
      println(s"--- pass $pass (threshold $threshold); NOTE: nothing is " +
        "cached, so each stage count() re-executes the whole upstream " +
        "pipeline — printed times are CUMULATIVE, not per-stage (diff " +
        "successive rows for per-stage cost)")
      val st = graft.ext.SimJoin.build(docs, "doc_id", "text", threshold)
      val nToks = time("tokenize")(st.toks.count())
      val nPref = time("prefix build")(st.prefixes.count())
      val nRaw = time("candidates raw")(st.candsRaw.count())
      val nCand = time("candidates distinct")(st.cands.count())
      val nOut = time("full pipeline")(st.result.count())
      println(s"[simjoin-probe] rows: toks=$nToks prefixes=$nPref " +
        s"candsRaw=$nRaw cands=$nCand out=$nOut")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
