package graft.tools

import graft.{GraftSession, SparkEntry}

/** Profile one SparkEntry query: per-run wall time, generated classes
  * compiled and compile ms (JVM-wide codegen counters, so a first run's
  * compile cost shows apart from warm execution) + formatted plan.
  * Usage: runMain graft.tools.QueryProfile <query-name> [sfDir] [runs]
  * GRAFT_JOBLOG=1 adds per-job/stage wall times (perf forensics). */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.create(benchMode = true)
    if (sys.env.get("GRAFT_JOBLOG").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val epoch = System.nanoTime()
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
            .orElse(j.stageInfos.lastOption.map(_.name.take(120)))
            .getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), desc))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(j.jobId)).foreach { case (t0, desc) =>
            val now = System.nanoTime()
            System.err.println(
              f"[joblog] job=${j.jobId}%4d ${(now - t0) / 1e9}%6.2fs  " +
                f"s=${(t0 - epoch) / 1e9}%.2f e=${(now - epoch) / 1e9}%.2f  $desc")
          }
        }
      })
    }
    val fn = SparkEntry.queries(name)
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      val (compiles0, nanos0) = GraftSession.codegen
      val n = fn(spark, sfDir).count()
      val (compiles, nanos) = GraftSession.codegen
      println(f"[profile] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows), " +
        f"${compiles - compiles0} classes compiled in ${(nanos - nanos0) / 1e6}%.0f ms")
    }
    if (sys.env.get("GRAFT_EXPLAIN").contains("1"))
      fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
