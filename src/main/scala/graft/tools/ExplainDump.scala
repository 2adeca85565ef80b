package graft.tools

import java.nio.file.{Files, Paths}

/** Plan-audit tool: dump `explain("formatted")` for every SparkEntry query
  * (or a comma-separated subset) to one file per query, plus a summary TSV
  * of plan-shape counters (Exchange / SortMergeJoin / BroadcastHashJoin /
  * CartesianProduct / WholeStageCodegen spans). Dev tooling for the
  * optimization rounds — `runMain graft.tools.ExplainDump <sfDir> <outDir>
  * [names]`. Streaming/stateful queries execute jobs inside their builder;
  * the plan captured here is the final returned frame's (documented in the
  * summary so a reader doesn't mistake a memory-scan plan for the work).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.lift(2).map(_.split(",").toSet)
    // 4th arg "exec": run each query through the noop sink first and dump
    // the EXECUTED plan (AQE final plan — isFinalPlan=true), so join
    // strategies and coalesced exchanges reflect runtime reality, not the
    // pre-execution estimate.
    val exec = args.lift(3).contains("exec")
    val spark = graft.Session.builder("graft-explain-dump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names = graft.SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    val summary = new StringBuilder
    summary.append("query\texchanges\tsmj\tbhj\tshj\tbnlj\tcartesian\twsc\tnotes\n")
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // exec mode: execute the SAME QueryExecution (a noop write would
        // run a separate QueryExecution for the write command, leaving
        // df.queryExecution un-executed and the dump at isFinalPlan=false
        // — round-11 advisor item), so the dump shows the AQE final plan:
        // runtime join strategy changes and AQEShuffleRead coalescing.
        if (exec) df.queryExecution.toRdd.foreachPartition(_ => ())
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/$name.txt"), plan.getBytes("UTF-8"))
        // count only the numbered operator headers ("(12) Exchange") so the
        // details section isn't double-counted and "Exchange" doesn't match
        // inside Broadcast/ReusedExchange lines (round-11 advisor item)
        def c(tok: String) = ("""(?m)^\(\d+\) """ + tok + """\b""").r.findAllIn(plan).length
        summary.append(s"$name\t${c("Exchange")}\t${c("SortMergeJoin")}\t" +
          s"${c("BroadcastHashJoin")}\t${c("ShuffledHashJoin")}\t" +
          s"${c("BroadcastNestedLoopJoin")}\t${c("CartesianProduct")}\t" +
          s"${"""\[codegen id : (\d+)\]""".r.findAllMatchIn(plan).map(_.group(1)).toSet.size}\t\n")
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).filter(_.nonEmpty)
            .getOrElse(e.getClass.getSimpleName)
          summary.append(s"$name\t-\t-\t-\t-\t-\t-\t-\tERR ${msg.linesIterator.nextOption().getOrElse("?").take(120)}\n")
      }
      spark.catalog.clearCache()
    }
    Files.write(Paths.get(s"$outDir/_summary.tsv"),
      summary.toString.getBytes("UTF-8"))
    System.err.println(s"[explain-dump] ${names.size} plans -> $outDir")
    spark.stop()
  }
}
