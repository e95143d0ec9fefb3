package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Diagnostic (guide §1.1/§2.6): per-JOB wall-clock timeline of one
  * query — job id, start offset, duration, description — to find
  * sequential driver actions that could overlap and fixed per-job
  * overhead that dominates small inputs. One warmup pass, then ONE
  * traced pass (construction-time jobs from eager checkpoints included).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.JobTrace q349_route_preview"
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobTrace <queryName>")
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession.start()
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).collect() // warmup
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()

    final case class J(id: Int, start: Long, var end: Long, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("") +
          e.stageInfos.lastOption.map(s => " [" + s.name + "]").getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time, -1L, d))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    fn(spark, sfDir).collect()
    val total = (System.currentTimeMillis() - t0) / 1e3
    // listener bus is async — give it a beat to drain
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.toSeq.sortBy(_.start)
    println(f"JOBTRACE $name total=$total%.3f s jobs=${js.size}")
    js.foreach { j =>
      val dur = if (j.end < 0) -1.0 else (j.end - j.start) / 1e3
      println(f"JOB ${j.id}%3d +${(j.start - t0) / 1e3}%6.3f s  " +
        f"dur=$dur%6.3f s  ${j.desc.replaceAll("\\s+", " ").take(400)}")
    }
    spark.stop()
  }
}
