package graft

import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentHashMap

/** Optimization-round instrument (r17, guide §1): run ONE declared query
  * under the [[GraftSession]] contract and print a per-Spark-job time
  * breakdown — job id, duration, number of stages/tasks, and the job
  * group/description — so "which of this lifecycle query's ~40 actions
  * costs the seconds" is a measurement instead of a guess. Not part of
  * the driver contract; Bench is unchanged.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... \
  *   sbt "runMain graft.ProfileQuery <query> [iters]"
  * `SPARK_GRAFT_CPUS` sets the cores (default 4, as for every
  * [[GraftSession]]).
  */
object ProfileQuery {
  final class JobTimeListener extends SparkListener {
    case class JobInfo(start: Long, var end: Long, var stages: Int,
                       var tasks: Int, desc: String,
                       cpu: java.util.concurrent.atomic.AtomicLong =
                         new java.util.concurrent.atomic.AtomicLong(0L))
    val jobs = new ConcurrentHashMap[Int, JobInfo]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties)
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
        .getOrElse("")
      jobs.put(js.jobId, JobInfo(js.time, js.time, js.stageInfos.size,
        js.stageInfos.map(_.numTasks).sum, desc))
      js.stageInfos.foreach(si => stageToJob.put(si.stageId, js.jobId))
      order.add(js.jobId)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val j = jobs.get(je.jobId)
      if (j != null) j.end = je.time
    }
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val jid = stageToJob.get(te.stageId)
      val j = jobs.get(jid)
      if (j != null && te.taskMetrics != null)
        j.cpu.addAndGet(te.taskMetrics.executorCpuTime)
    }
    def reset(): Unit = { jobs.clear(); order.clear(); stageToJob.clear() }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <q1,q2,...> [iters]"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val iters = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val listener = new JobTimeListener
    spark.sparkContext.addSparkListener(listener)
    spark.range(100000).selectExpr("sum(id)").collect()
    for (name <- names) {
    val fn = SparkEntry.queries(name)
    for (it <- 0 until iters) {
      listener.reset()
      val t0 = System.nanoTime()
      val frame = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      frame.write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSession.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      val infos = listener.order.asScala.map(id => id -> listener.jobs.get(id))
      val jobSum = infos.map { case (_, j) => (j.end - j.start) / 1e3 }.sum
      val cpuSum = infos.map { case (_, j) => j.cpu.get / 1e9 }.sum
      println(f"[profile] iter=$it query=$name wall=$wall%.3f s " +
        f"build=$tBuild%.3f s jobs=${infos.size} jobTimeSum=$jobSum%.3f s " +
        f"cpuSum=$cpuSum%.3f s gap=${wall - jobSum}%.3f s")
      infos.foreach { case (id, j) =>
        val ms = j.end - j.start
        if (ms >= 20 || it == 0)
          println(f"[profile]   job=$id%4d ${ms}%6d ms cpu=${j.cpu.get / 1e6}%7.0f ms " +
            f"stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(100)}")
      }
      GraftSession.release(spark)
    }
    }
    spark.stop()
  }
}
