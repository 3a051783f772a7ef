package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The front door must hand back a session with the engine wired in, and
  * `Graft.run` must materialize the three reference models' Dag and
  * re-run it incrementally without changing their content.
  */
class GraftFacadeSpec extends AnyFunSuite {

  test("Graft.session wires extensions and confs; Graft.run materializes the DAG") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = Graft.session(master = "local[2]", shufflePartitions = Some(4))
    try {
      // extensions: the native functions resolve in plain SQL
      assert(s.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0) == 11.0)
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      // the dbt-run equivalent: three materialized models, rows > 0, and
      // a re-run (incremental path, priors present) is a no-op on content
      val wh = java.nio.file.Files.createTempDirectory("graft-facade").toString
      val out = Graft.run(s, "/root/testdata/sf0.001", wh)
      assert(out.keySet == Set("traffic_daily_agg", "traffic_pages_agg",
        "lead_activities_agg"))
      val counts = out.map { case (k, df) => k -> df.count() }
      assert(counts.values.forall(_ > 0), counts.toString)
      val rerun = Graft.run(s, "/root/testdata/sf0.001", wh)
      val recounts = rerun.map { case (k, df) => k -> df.count() }
      assert(recounts == counts, s"incremental re-run changed content: $counts -> $recounts")
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
