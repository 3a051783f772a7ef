package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must make vec_dot resolvable in plain SQL on a
  * session built with spark.sql.extensions=graft.GraftExtensions.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("vec_dot resolves on a session built with GraftExtensions") {
    // withExtensions rather than the spark.sql.extensions string conf:
    // the conf path only applies when the SparkContext is created fresh,
    // and the test JVM shares one context across suites
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val v = s.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(v == 11.0)
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("optimizer rule swaps thresholded levenshtein for the banded kernel") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s.implicits._
      // plan assertions need a DATASOURCE-backed relation: a local Seq is
      // constant-folded into a LocalRelation at optimization time and no
      // expression survives to inspect
      s.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .createOrReplaceTempView("lev_docs")
      val q = s.sql("SELECT doc_id, levenshtein(text, 'spark', 5) AS d FROM lev_docs")
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("lev_band"),
        s"rule did not rewrite to the banded kernel:\n$optimized")
      assert(!optimized.contains("levenshtein("),
        s"built-in thresholded levenshtein survived optimization:\n$optimized")
      // value parity on the folded local path too: folding runs the
      // kernel's eval, which must agree with the built-in's answers
      val vals = Seq(("kitten", "sitting"), ("flaw", "lawn"), ("same", "same"))
        .toDF("a", "b")
      vals.createOrReplaceTempView("lev_pairs")
      assert(s.sql("SELECT a, b, levenshtein(a, b, 5) AS d FROM lev_pairs")
        .orderBy("a").as[(String, String, Int)].collect().toSeq ==
        Seq(("flaw", "lawn", 2), ("kitten", "sitting", 3), ("same", "same", 0)))
      // guards: the unthresholded form and a negative literal keep the built-in
      val unthresholded = s.sql("SELECT levenshtein(text, 'spark') AS d FROM lev_docs")
        .queryExecution.optimizedPlan.toString
      assert(!unthresholded.contains("lev_band"),
        s"rule must not touch the full-matrix form:\n$unthresholded")
      val negative = s.sql("SELECT levenshtein(text, 'spark', -1) AS d FROM lev_docs")
        .queryExecution.optimizedPlan.toString
      assert(!negative.contains("lev_band"),
        s"rule must leave a negative threshold to the built-in's error path:\n$negative")
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("VectorFunctions.register is idempotent: a Graft.session keeps its injected functions") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = Graft.session(master = "local[2]")
    try {
      val reg = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
      def installed() = graft.functions.VectorFunctions.builders
        .map { case (id, _, _) => id -> reg.lookupFunctionBuilder(id).get }
      val injected = installed()
      // registering over injected names must not replace them (Spark
      // logs "replaced a previously registered function" when it does)
      graft.functions.VectorFunctions.register(s)
      graft.functions.VectorFunctions.register(s)
      installed().zip(injected).foreach { case ((id, now), (_, before)) =>
        assert(now eq before, s"register replaced $id")
      }
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

}
