package graft.tools

/** Ad-hoc plan/job profiler: runs named entries once warm, then once
  * measured with a job counter, and prints the formatted physical plan
  * — the `.explain("formatted")` iteration loop the build doctrine
  * prescribes, as a runnable main.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [--plan] <name...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val showPlan = args.contains("--plan")
    val rest = args.filterNot(_ == "--plan")
    val (sfDir, names) = (rest.head, rest.tail.toSeq)
    val spark = graft.GraftSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      })
    names.foreach { n =>
      val q = graft.SparkEntry.queries(n)
      q(spark, sfDir).count() // warm
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val df = q(spark, sfDir)
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val tPlan = (System.nanoTime() - t0) / 1e9
      df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener drain
      println(f"== $n%s: $dt%.3f s (plan $tPlan%.3f), ${jobs.get() - j0}%d jobs ==")
      if (showPlan) df.explain("formatted")
    }
    spark.stop()
  }
}
