package graft.cli

import graft.plans.{Runner, Yaml}
import java.nio.file.{Files, Paths, Path}

/** CLI entry replicating the reference's batch path (main.py:516-620):
  * `graft.cli.Main <config.yaml> [pipelinesDir]` — for each output, load
  * `pipelines/<output_key>.yaml`, execute, validate, write. Exit 1 if any
  * pipeline fails. (LLM flow generation is external by mandate; a missing
  * flow file is reported, not generated.)
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: Main <config.yaml> [pipelinesDir]"); sys.exit(2) }
    val configPath = Paths.get(args(0))
    val pipelinesDir = if (args.length > 1) Paths.get(args(1))
      else configPath.toAbsolutePath.getParent.resolve("pipelines")

    // SPARK_MASTER points the CLI at a cluster instead of local[cores]
    val builder = graft.Session.builder("graft")
    val spark = sys.env.get("SPARK_MASTER").fold(builder)(builder.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val config = Yaml.parseConfig(Files.readString(configPath))
    var failed = false
    config.outputs.foreach { case (key, _) =>
      val flowPath: Path = pipelinesDir.resolve(s"$key.yaml")
      if (!Files.exists(flowPath)) {
        System.err.println(s"[main] no flow file for output '$key' at $flowPath (generation is external)")
        failed = true
      } else {
        try {
          val flow = Yaml.parseFlow(Files.readString(flowPath))
          Runner.runOutput(spark, config, key, flow) match {
            case Some(feedback) =>
              System.err.println(s"[main] output '$key' failed schema validation: $feedback")
              failed = true
            case None =>
              println(s"[main] output '$key' written")
          }
        } catch {
          case e: Exception =>
            System.err.println(s"[main] output '$key' failed: ${e.getMessage}")
            failed = true
        }
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
