package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session; Spark reuses
  * it across suites via getOrCreate). `local[4]` and 4 shuffle
  * partitions are fixed here, not taken from the host, so the job and
  * partition counts that specs pin do not depend on it.
  */
object SparkTestSession {
  /** The pairs every spec session is built with. */
  val pinned: Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4")

  lazy val spark: SparkSession = Graft.localSession(pinned ++ Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString): _*)

  /** `f`'s result and the number of Spark jobs it submitted. Jobs are
    * counted by a job group set on this thread, so another thread's
    * work cannot leak in; a marker job closes the window — listener
    * events arrive in bus order, so once it is seen every earlier job
    * start has been too.
    */
  def jobsIn[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime}"
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => started.put(
            Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val r = f
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      def next() = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      var (jobs, e) = (0, next())
      while (e != null && e != "marker") { jobs += 1; e = next() }
      assert(e == "marker", "the marker job never reached the listener")
      (r, jobs)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
