package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Local profiling utility: `runMain graft.Profile <query> [passes]`
  * runs one named query under the Bench session config and prints, per
  * pass, the wall-clock, the Spark JOB count, and each job's wall time
  * — the driver-side gap (wall − Σ jobs, minus overlap) is
  * planning/codegen/collect latency. The r14 optimization rounds live
  * on this split: at bench scale most "query time" is job-count ×
  * fixed latency, not data movement, so the first question about any
  * slow query is "how many jobs, and how long is the longest chain?".
  * Concurrent jobs (the ANN training pool) print with their real
  * overlapping intervals. */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val passes = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, String)]
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        starts.put(j.jobId, (j.time, site)); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, site) =
          Option(starts.get(j.jobId)).getOrElse((j.time, "?"))
        jobs.synchronized { jobs += ((j.jobId, t0, j.time, site)); () }
      }
    })

    (1 to passes).foreach { p =>
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      Queries.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val js = jobs.synchronized(jobs.sortBy(_._2).toSeq)
      val sumJobs = js.map(j => (j._3 - j._2) / 1000.0).sum
      println(f"[profile] $name pass $p: wall $wall%.3f s, ${js.size} jobs, " +
        f"sum(job) $sumJobs%.3f s")
      val base = js.headOption.map(_._2).getOrElse(0L)
      js.foreach { case (id, s, e, site) =>
        println(f"[profile]   job $id%4d  +${(s - base) / 1000.0}%7.3f  " +
          f"${(e - s) / 1000.0}%7.3f s  $site")
      }
    }
    spark.stop()
  }
}
