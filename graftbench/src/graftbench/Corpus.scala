package graftbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** corpus — the LLM-corpus user's day in one loop: the corpus_ingest ops
  * (one streaming trigger, two key-range reads) then the corpus_curate
  * ops (one curation pass, one kNN batch), repeated. One JVM pays the
  * warm-up of both, which is what lets both fit the run's time budget.
  * A cycle's ingest trigger plus its reads give primary_p50_s, its pass
  * plus its kNN batch secondary_p50_s.
  */
final class Corpus(spark: SparkSession, seed: Long, sz: Sizes, tracer: Tracer)
    extends Workload {
  private val ingest = new Ingest(spark, seed, sz, tracer)
  private val curate = new Curate(spark, seed, sz, tracer)

  val order = Seq("ingest", "read", "read", "curate", "knn")
  val primary = Set("ingest", "read")
  val secondary = Set("curate", "knn")

  def setup(dir: Path): Unit = {
    ingest.setup(dir.resolve("ingest"))
    curate.setup(dir.resolve("curate"))
  }
  override def warmUp(): Unit = { ingest.warmUp(); curate.warmUp() }
  override def beginTimed(): Unit = ingest.beginTimed()
  def prepare(i: Int, kind: String): () => Unit = kind match {
    case "ingest" => ingest.trigger()
    case "read" => ingest.read(i)
    case "curate" => curate.pass()
    case "knn" => curate.knn()
  }
  override def observe(i: Int, kind: String): Unit = if (kind == "ingest") ingest.observe()
  def checks(): Seq[(String, Boolean)] = ingest.checks() ++ curate.checks()
  def spaceBytes(scratch: Path): (Long, Long) = {
    val (a, b) = ingest.spaceBytes(scratch)
    val (c, d) = curate.spaceBytes(scratch)
    (a + c, b + d)
  }
  def layers(ops: Seq[(Int, OpSample)], tracer: Tracer): Map[String, Double] =
    ingest.layers(ops, tracer) ++ curate.layers(ops, tracer)
  override def close(): Unit = ingest.close()
}
