package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame

/** Sizes of one run. `smoke` is the tiny size the benchmark's own tests
  * use; `full` is what the benchmark measures. graftbench/README.md gives
  * the source of each full size, or says it has none.
  */
final case class Sizes(
    historyDays: Int, eventsPerDay: Int, users: Int,
    seedDocs: Int, batchDocs: Int, compactEvery: Int,
    shardDocs: Int, indexVectors: Int, queryBatch: Int)

object Sizes {
  val full = Sizes(historyDays = 30, eventsPerDay = 333, users = 150,
    seedDocs = 500, batchDocs = 40, compactEvery = 2,
    shardDocs = 500, indexVectors = 3000, queryBatch = 32)
  val smoke = Sizes(historyDays = 3, eventsPerDay = 200, users = 100,
    seedDocs = 100, batchDocs = 20, compactEvery = 2,
    shardDocs = 100, indexVectors = 3000, queryBatch = 8)
}

/** A closed-loop workload with one client: op i+1 starts only after op
  * i returns. The harness times only the body `prepare` returns;
  * `prepare` itself (input generation, landing) runs before the clock
  * starts.
  */
trait Workload {
  /** The op kinds of one cycle, in order; the loop runs whole cycles. */
  def order: Seq[String]
  /** The op kinds whose walls, summed per cycle, give primary_p50_s and
    * secondary_p50_s.
    */
  def primary: Set[String]
  def secondary: Set[String]
  /** A fresh, fully built state in `dir`. */
  def setup(dir: Path): Unit
  /** Discarded ops of every kind (Janino codegen, JIT), run on the
    * set-up's state before the timed loop.
    */
  def warmUp(): Unit = order.zipWithIndex.foreach { case (k, i) => prepare(i, k)() }
  /** Called once, right before the timed loop starts. */
  def beginTimed(): Unit = ()
  /** Untimed preparation of op i of `kind`; returns the timed body. */
  def prepare(i: Int, kind: String): () => Unit
  /** Traced run only, after op i: layer numbers that need a look at the
    * engine's state (counted as trace overhead).
    */
  def observe(i: Int, kind: String): Unit = ()
  /** Named output checks, computed outside the timed region. */
  def checks(): Seq[(String, Boolean)]
  /** (bytes on disk, bytes of the live rows written once). */
  def spaceBytes(scratch: Path): (Long, Long)
  /** Workload-specific per-layer metrics (traced run). */
  def layers(ops: Seq[(Int, OpSample)], tracer: Tracer): Map[String, Double]
  def close(): Unit = ()
}

object Workload {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Bytes of `df` written once as parquet (the "live rows" base of
    * space and write amplification).
    */
  def onceBytes(df: DataFrame, scratch: Path, name: String): Long = {
    val out = scratch.resolve(name)
    df.write.mode("overwrite").parquet(out.toString)
    val b = dirBytes(out)
    graft.runtime.Fs.deleteRecursive(out)
    b
  }
}
