package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev probe (round 14): per-JOB / per-STAGE wall-time breakdown of one
  * registry query — the "where does the pass actually go" instrument the
  * optimization guide's §1 empirical loop needs (the UI is off in this
  * sandbox, so a listener plays its role). Args: queryName [passes=3].
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in [[Bench]].
  *
  * Prints, per pass: total seconds, then one line per job (duration,
  * #stages) and per stage (duration, #tasks, input/shuffle-read/
  * shuffle-write bytes, executor cpu time). Pass 1 is the cold pass;
  * later passes are the warm shape the bench medians. Never run by the
  * driver — measurement tooling only, does not touch any query plan. */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeJobs <name1,name2,...> [passes]")
    val names = args(0).split(",").toSeq
    val passes = if (args.length > 1) args(1).toInt else 3
    val sfDir = GraftConf.current.sfDir
    val spark = GraftSession.local(app = "graft-probe-jobs", periodicGC = "10h")

    case class St(var name: String = "", var ms: Long = 0, var tasks: Int = 0,
                  var input: Long = 0, var sr: Long = 0, var sw: Long = 0,
                  var cpuMs: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    case class Jb(start: Long, var end: Long = 0,
                  stageIds: Seq[Int] = Nil)
    val jobs = mutable.LinkedHashMap[Int, Jb]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs(e.jobId) = Jb(e.time, stageIds = e.stageIds) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = e.stageInfo
          val st = stages.getOrElseUpdate(si.stageId, St())
          st.name = si.name
          st.ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          st.tasks = si.numTasks
          st.input = si.taskMetrics.inputMetrics.bytesRead
          st.sr = si.taskMetrics.shuffleReadMetrics.totalBytesRead
          st.sw = si.taskMetrics.shuffleWriteMetrics.bytesWritten
          st.cpuMs = si.taskMetrics.executorCpuTime / 1000000L
        }
    })

    for (name <- names; p <- 1 to passes) {
      val q = Queries.byName(name)
      jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
      var n = 0L
      val sec = Harness.timed(spark, "probejobs", name) { n = q.run(spark, sfDir).count() }
      // listener bus is async — drain before reading the maps
      org.apache.spark.graftbridge.BlockBridge.drainListenerBus(spark.sparkContext)
      println(f"== pass $p: $name total ${sec.getOrElse(Double.NaN)}%.3f s (rows=$n) ==")
      jobs.synchronized {
        jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
          val dur = (j.end - j.start) / 1000.0
          println(f"  job $id%3d  $dur%7.3f s  stages=${j.stageIds.mkString(",")}")
        }
      }
      stages.synchronized {
        stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
          println(f"  stage $id%4d ${s.ms / 1000.0}%7.3f s tasks=${s.tasks}%3d " +
            f"cpu=${s.cpuMs / 1000.0}%7.3f s in=${s.input}%10d sr=${s.sr}%9d sw=${s.sw}%9d  ${s.name.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
