package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{Engine, SparkEntry}

/** Job-level profiler for one declared query: runs `SparkEntry.queries(name)`
  * under a listener that records every Spark job's wall time and call site,
  * then prints the jobs sorted by duration plus the total. Tells apart
  * "a few big jobs" (compute-bound — optimize the plan) from "many small
  * jobs" (driver-loop/pin-bound — cut the job count). Diagnostic only.
  *
  * Usage: runMain graft.tools.JobProfile <queryName> [sfDir] [runs] [overrides]
  *
  * `overrides` is a comma-separated list of conf settings, e.g.
  * "spark.sql.adaptive.enabled=false,spark.sql.shuffle.partitions=8", set on
  * the engine session after it is built — so only runtime confs can be
  * overridden; `spark.conf.set` rejects a static or core conf. The child
  * sessions of the streaming replays start from the builder confs, so they
  * do not see the overrides.
  */
object JobProfile {

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: JobProfile <queryName> [sfDir] [runs] [overrides]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.lift(3).foreach(_.split(',').filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })

    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.take(5)}…"))

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double, Int)]()
    val cpuSum = new java.util.concurrent.atomic.AtomicLong(0)
    val gcSum = new java.util.concurrent.atomic.AtomicLong(0)
    val deserSum = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          jobs.add((je.jobId, (je.time - t0) / 1e3, site))
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime }
          yield (c - s) / 1e3).getOrElse(0.0)
        val m = si.taskMetrics
        val run = m.executorRunTime / 1e3
        val site = si.details.linesIterator.find(l =>
          l.contains("graft.") && !l.contains("tools.JobProfile")).getOrElse("?").trim
        cpuSum.addAndGet((m.executorCpuTime / 1e6).toLong) // ns -> ms
        gcSum.addAndGet(m.jvmGCTime)                  // ms
        deserSum.addAndGet(m.executorDeserializeTime) // ms
        stages.add((site, wall, run, si.numTasks))
      }
    }

    // warmup at the smallest sf (JIT/classloading), unlisted
    try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[warmup] ${e.getMessage}") }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))

    (1 to runs).foreach { i =>
      jobs.clear(); stages.clear(); cpuSum.set(0); gcSum.set(0); deserSum.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(500) // let the listener bus drain before reading
      import scala.jdk.CollectionConverters._
      val all = jobs.asScala.toSeq.sortBy(-_._2)
      val tot = all.map(_._2).sum
      println(f"JOBPROF run $i: wall $wall%.2f s, ${all.size} jobs, job-time sum $tot%.2f s")
      all.take(30).foreach { case (id, sec, site) =>
        println(f"JOBPROF   job $id%4d  $sec%7.3f s  $site")
      }
      import scala.jdk.CollectionConverters._
      val st = stages.asScala.toSeq
      val stWall = st.map(_._2).sum
      val stRun = st.map(_._3).sum
      val nTasks = st.map(_._4).sum
      println(f"JOBPROF stages: ${st.size}, stage-wall sum $stWall%.2f s, executor-run sum $stRun%.2f s, tasks $nTasks")
      println(f"JOBPROF   cpu ${cpuSum.get/1e3}%.2f s, gc ${gcSum.get/1e3}%.2f s, deser ${deserSum.get/1e3}%.2f s")
      val byName = st.groupBy(_._1)
        .map { case (n, ss) => (n, ss.map(_._2).sum, ss.map(_._3).sum, ss.size, ss.map(_._4).sum) }
        .toSeq.sortBy(-_._3)
      println("JOBPROF by call site (wall / executor-run / count / tasks):")
      byName.take(30).foreach { case (n, w, rn, c, tk) =>
        println(f"JOBPROF   $w%7.2f s  run=$rn%7.2f s  n=$c%3d  tasks=$tk%5d  $n")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
