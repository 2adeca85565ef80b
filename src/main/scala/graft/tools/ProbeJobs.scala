package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Job-level profile of one query: wall time per Spark job vs summed task
  * time, stage/task counts — separates scheduling/materialization overhead
  * from per-task compute. `runMain graft.tools.ProbeJobs <sfDir> <names>`.
  * Dev tooling for the optimization rounds.
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = graft.Session.builder("graft-probe-jobs").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class JobRec(id: Int, var start: Long = 0L, var end: Long = 0L,
                      var stages: Int = 0, var tasks: Int = 0,
                      var taskTimeMs: Long = 0L, var desc: String = "")
    case class StageRec(id: Int, var tasks: Int = 0, var taskTimeMs: Long = 0L,
                        var cpuMs: Long = 0L, var name: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val r = JobRec(e.jobId, start = e.time)
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        r.stages = e.stageIds.size
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs(e.jobId) = r
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId))
        // operator scopes of the stage's RDDs identify WHICH plan segment
        // ran (stage names are all "withThreadLocalCaptured" under AQE)
        val scopes = e.stageInfo.rddInfos.flatMap(_.scope).map(_.name).distinct
        s.name = scopes.mkString(">") match {
          case "" => e.stageInfo.name.linesIterator.next()
          case x  => x
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { r =>
          r.tasks += 1
          if (e.taskInfo != null) r.taskTimeMs += e.taskInfo.duration
        }
        val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
        s.tasks += 1
        if (e.taskInfo != null) s.taskTimeMs += e.taskInfo.duration
        if (e.taskMetrics != null) s.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
      }
    }

    // warm-up at the smallest fixture so JIT/codegen isn't billed
    val warmDir = sfDir.replace("sf0.1", "sf0.001")
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, if (new java.io.File(warmDir).isDirectory) warmDir else sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()

    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      jobs.synchronized { jobs.clear(); stages.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300) // let late listener events drain
      jobs.synchronized {
        val recs = jobs.values.toSeq
        val jobWall = recs.map(r => (r.end - r.start).max(0L)).sum / 1e3
        val taskSum = recs.map(_.taskTimeMs).sum / 1e3
        println(f"===== $name wall=$wall%.2f s jobs=${recs.size} jobWallSum=$jobWall%.2f s taskTimeSum=$taskSum%.2f s gaps=${wall - jobWall}%.2f s")
        recs.foreach { r =>
          println(f"  job ${r.id}%3d ${(r.end - r.start).max(0L) / 1e3}%6.2f s stages=${r.stages}%2d tasks=${r.tasks}%4d taskTime=${r.taskTimeMs / 1e3}%7.2f s ${r.desc.take(80)}")
        }
        // per-stage rows, heaviest first — a stage with tasks=1 and most of
        // the task time is the serialization point to attack (round-11
        // advisor item: these were collected but never printed)
        stages.values.toSeq.sortBy(-_.taskTimeMs).take(12).foreach { st =>
          println(f"  stage ${st.id}%3d tasks=${st.tasks}%4d taskTime=${st.taskTimeMs / 1e3}%7.2f s cpu=${st.cpuMs / 1e3}%7.2f s ${st.name.take(100)}")
        }
      }
    }
    spark.stop()
  }
}
