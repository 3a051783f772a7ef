package graft.runtime

import org.apache.spark.sql.DataFrame
import scala.util.{Failure, Try}

/** Model DAG with dbt's materialization kinds — the one batch runner,
  * behind `Graft.run` (the reference's three models as Incremental
  * nodes, the hidden daily → leads edge declared). A dbt project is a
  * set of named models, each declaring HOW it persists
  * (`materialized=`) and reading others via `ref()`; this runner
  * reproduces that contract over DataFrames:
  *
  *  - `Table` — full refresh every run (dbt's default), through
  *    [[Materializer.materializeTable]]'s versioned commit.
  *  - `Incremental(uniqueKey, onSchemaChange)` — upsert-by-key with the
  *    prior table offered to the build for watermarking, through
  *    [[Materializer.materialize]] (SURVEY §2.10 semantics).
  *  - `View` — stored logic, nothing materialized: downstream refs and
  *    the run result get the LAZY frame. A DataFrame pins its analyzed
  *    plan (file listings included) at build time, so the honest
  *    contract is: a view reflects source changes at the next RUN —
  *    which for a view costs nothing, since there is no write; dbt's
  *    rerun is likewise just CREATE OR REPLACE VIEW.
  *  - `Ephemeral` — inlined into each dependent, queryable by NOTHING
  *    else (dbt refuses `select * from an_ephemeral_model` too): the
  *    frame is passed to dependents' refs but excluded from the run
  *    result. Where dbt must splice CTE text into each dependent's
  *    compiled SQL, DataFrames compose by reference — the plan is
  *    inlined into each consumer's Catalyst tree automatically, and
  *    like dbt's CTE each consumer re-evaluates it unless the caller
  *    explicitly caches.
  *
  * Nodes run in dependency (topological) LEVELS: a node's level is one
  * past its deepest dep, and the nodes of one level run CONCURRENTLY on
  * a pool of min(widest level, available processors) threads, created
  * per run and shut down when it ends — dbt's `threads`. Overlapping
  * independent models overlaps their driver-side gaps (planning, commit
  * I/O, single-task jobs), which dominate small incremental runs; the
  * Spark scheduler interleaves their jobs. The graph is validated up
  * front: an unknown `ref` or a cycle fails fast with the offending
  * names, before any model runs.
  *
  * Failure: when a node throws, the rest of its level still runs to
  * completion (a sibling's commit is never abandoned midway), no later
  * level starts — so no dependent of the failed node runs — and `run()`
  * rethrows the failure of the first failed node in declaration order.
  */
object Dag {

  sealed trait Mat
  object Mat {
    case object Table extends Mat
    final case class Incremental(
        uniqueKey: String,
        onSchemaChange: SchemaChange = SchemaChange.Ignore) extends Mat
    case object View extends Mat
    case object Ephemeral extends Mat
  }

  /** One model: `build(refs, prior)` gets every declared dep's frame by
    * name plus — for Incremental nodes on a rerun — the prior table.
    * `contract` is dbt's enforced model contract ([[Contract]]): the
    * build output must match it or the node's run fails; dbt permits
    * contracts on table/incremental/view but not ephemeral (an inlined
    * CTE has no schema object to contract), and so does this runner.
    */
  final case class Node(
      name: String, mat: Mat, deps: Seq[String],
      build: (Map[String, DataFrame], Option[DataFrame]) => DataFrame,
      contract: Option[Seq[Contract.Col]] = None) {
    require(contract.isEmpty || mat != Mat.Ephemeral,
      s"model $name: ephemeral models cannot be contracted (dbt's rule)")
  }

  /** Declaration-order-stable topological levels: level k holds the
    * nodes whose deps all sit in levels < k, in declaration order.
    * Throws on unknown deps and cycles, naming them.
    */
  private[runtime] def levels(nodes: Seq[Node]): Seq[Seq[Node]] = {
    val byName = nodes.map(n => n.name -> n).toMap
    require(byName.size == nodes.size,
      s"duplicate model name(s): ${nodes.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.mkString(", ")}")
    nodes.foreach { n =>
      val unknown = n.deps.filterNot(byName.contains)
      require(unknown.isEmpty,
        s"model ${n.name} refs unknown model(s): ${unknown.mkString(", ")}")
    }
    val done = scala.collection.mutable.HashSet[String]()
    val out = Seq.newBuilder[Seq[Node]]
    var remaining = nodes
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(done))
      require(ready.nonEmpty,
        s"dependency cycle among: ${blocked.map(_.name).mkString(", ")}")
      done ++= ready.map(_.name)
      out += ready
      remaining = blocked
    }
    out.result()
  }

  /** [[levels]] flattened: a declaration-order-stable topological sort. */
  private[runtime] def topoSort(nodes: Seq[Node]): Seq[Node] = levels(nodes).flatten
}

final class Dag(mat: Materializer, nodes: Seq[Dag.Node]) {
  import Dag._

  private val levels = Dag.levels(nodes)

  /** Run every model, level by level (see the class doc for concurrency
    * and failure semantics). Returns each QUERYABLE model's frame
    * (ephemerals are inlined, not exposed — dbt's rule).
    */
  def run(): Map[String, DataFrame] = {
    val frames = scala.collection.mutable.HashMap[String, DataFrame]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(levels.map(_.size).maxOption.getOrElse(1), Runtime.getRuntime.availableProcessors()))
    try levels.foreach { level =>
      // refs read only earlier levels' frames, complete before submission
      val running = level.map { n =>
        val refs = n.deps.map(d => d -> frames(d)).toMap
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = runNode(n, refs)
        })
      }
      // the whole level finishes before the first failure (in declaration
      // order) is rethrown, so a sibling's commit is never cut short
      val outcomes = running.map(f => Try(f.get()).recoverWith {
        case e: java.util.concurrent.ExecutionException => Failure(e.getCause)
      })
      level.zip(outcomes).foreach { case (n, o) => frames(n.name) = o.get }
    } finally pool.shutdown()
    frames.view.filterKeys { n =>
      nodes.exists(x => x.name == n && x.mat != Mat.Ephemeral)
    }.toMap
  }

  private def runNode(n: Node, refs: Map[String, DataFrame]): DataFrame = {
    def gated(df: DataFrame): DataFrame =
      n.contract.fold(df)(c => Contract.enforce(df, c))
    n.mat match {
      case Mat.Table => mat.materializeTable(n.name)(gated(n.build(refs, None)))
      case Mat.Incremental(key, osc) =>
        mat.materialize(n.name, key, osc)(prior => gated(n.build(refs, prior)))
      case Mat.View => gated(n.build(refs, None))
      case Mat.Ephemeral => n.build(refs, None)
    }
  }
}
