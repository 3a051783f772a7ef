package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Levenshtein, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType
import graft.functions.LevenshteinBand

/** Optimizer rule: every built-in THRESHOLDED `levenshtein(a, b, t)` with
  * a literal non-negative threshold becomes the codegen'd
  * [[graft.functions.LevenshteinBand]] kernel — same contract (exact
  * distance ≤ t, -1 past it, over codepoints; parity spec-gated in
  * ExtOpsSpec), ~40× per pair (the built-in re-steps UTF-8 byte
  * sequences inside the DP; the kernel decodes once and runs Ukkonen's
  * band over primitive int arrays). Plain SQL users get the kernel
  * without knowing it exists — the point of an optimizer rule over a
  * library function.
  *
  * Scope guards: literal int threshold only (the kernel bakes the band
  * width into generated code), non-negative only (a negative threshold
  * must keep the built-in's own runtime error), and the UNthresholded
  * form is left alone (full-matrix distance has no band to exploit).
  */
object LevenshteinBandRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Levenshtein(left, right, Some(Literal(t: Int, IntegerType))) if t >= 0 =>
      LevenshteinBand(left, right, t)
  }
}

/** SparkSessionExtensions entry point: launch with
  * `--conf spark.sql.extensions=graft.GraftExtensions` and every session
  * (SQL included) gets the engine's native functions declaratively —
  * the cluster-deployment alternative to the imperative
  * `VectorFunctions.register(spark)` used by the library paths — plus
  * the [[LevenshteinBandRewrite]] optimizer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.VectorFunctions.builders.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => LevenshteinBandRewrite)
  }
}
