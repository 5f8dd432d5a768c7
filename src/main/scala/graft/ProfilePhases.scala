package graft

import graft.queries.Registry

/** Overhead diagnostic for the floor-bound bench class: split a warm
  * run of each named query into DRIVER PLANNING (build the frame +
  * force `executedPlan`, with the QueryPlanningTracker's per-phase
  * breakdown) vs the full benched shape (build + noop write). The
  * floor queries' budgets bind at 2.0s while their duckdb oracles run
  * <1s, so per-query FIXED cost — not data work — decides their
  * verdicts; this names where the fixed cost lives.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.ProfilePhases q61_sql_tpch1,...'
  * (+ SPARK_GRAFT_CPUS, SPARK_GRAFT_CONF: `Graft.localSession`)
  */
object ProfilePhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.localSession()
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq.filter(_.nonEmpty)
      else Seq("q61_sql_tpch1", "q63_sql_tpch9", "q64_sql_tpch11",
        "q01_scan_project", "q22_string_funcs")
    names.foreach { name =>
      val q = Registry.byName(name)
      // warm-up: codegen + page cache, discarded
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      var i = 0
      while (i < 3) {
        // plan-only pass: frame construction + analysis/optimization/
        // physical planning, no job
        val p0 = System.nanoTime()
        val df = q.fn(spark, sfDir)
        val pBuild = System.nanoTime()
        df.queryExecution.executedPlan
        val p1 = System.nanoTime()
        val phaseMs = df.queryExecution.tracker.phases.map { case (k, v) =>
          k -> (v.endTimeMs - v.startTimeMs) }.toSeq.sortBy(-_._2)
        // benched pass: fresh frame + noop write (Bench.once's shape)
        val b0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val b1 = System.nanoTime()
        println(f"[profile] $name run$i once=${(b1 - b0) / 1e9}%.3fs | " +
          f"planOnly=${(p1 - p0) / 1e6}%.0fms " +
          f"(build=${(pBuild - p0) / 1e6}%.0fms " +
          phaseMs.map { case (k, v) => s"$k=$v" }.mkString(" ") +
          f") | execApprox=${(b1 - b0 - (p1 - p0)) / 1e6}%.0fms")
        i += 1
      }
    }
    spark.stop()
  }
}
