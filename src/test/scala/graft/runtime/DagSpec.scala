package graft.runtime

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Generic DAG runner with dbt's materialization kinds (Dag). */
class DagSpec extends SparkSpec {
  import spark.implicits._
  import Dag._

  private def freshDir(): String =
    Files.createTempDirectory("graft-dag").toString

  private def srcFrame(rs: Seq[(String, Int)]): DataFrame =
    rs.toDF("k", "v")

  /** Diamond: src(ephemeral) → base(view) → {agg(table), latest(incremental)}. */
  private def diamond(src: () => DataFrame,
                      counter: java.util.concurrent.atomic.AtomicInteger) = Seq(
    Node("raw", Mat.Ephemeral, Nil, (_, _) => { counter.incrementAndGet(); src() }),
    Node("base", Mat.View, Seq("raw"),
      (r, _) => r("raw").filter($"v" > 0)),
    Node("agg", Mat.Table, Seq("base"),
      (r, _) => r("base").groupBy("k").agg(sum($"v").as("total"))),
    Node("latest", Mat.Incremental("k"), Seq("base"),
      (r, _) => r("base").groupBy("k").agg(max($"v").as("hi"))))

  test("runs in dependency order; table+incremental persist, view+ephemeral don't") {
    val dir = freshDir()
    val m = new Materializer(spark, dir)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val out = new Dag(m, diamond(() => srcFrame(Seq(("a", 1), ("b", -2), ("b", 3))), n)).run()
    // ephemeral is inlined, not queryable from the result
    assert(out.keySet == Set("base", "agg", "latest"))
    assert(out("agg").as[(String, Long)].collect().toSet == Set(("a", 1L), ("b", 3L)))
    // only the materialized kinds touched the warehouse
    assert(m.exists("agg") && m.exists("latest"))
    assert(!m.exists("base") && !m.exists("raw"))
    // no view/ephemeral artifact on disk: every warehouse entry belongs
    // to the two materialized models
    val entries = Files.list(Paths.get(dir)).iterator()
    entries.forEachRemaining { p =>
      val n = p.getFileName.toString
      assert(n.startsWith("agg") || n.startsWith("latest"), s"unexpected warehouse entry $n")
    }
    // ephemeral build ran exactly once during the run
    assert(n.get() == 1)
  }

  test("independent nodes of one level run concurrently") {
    assume(Runtime.getRuntime.availableProcessors() >= 2, "needs two pool threads")
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val (aIn, bIn) = (new CountDownLatch(1), new CountDownLatch(1))
    // each build signals it started, then waits for the other: a
    // sequential runner would time out in the first node
    def meet(mine: CountDownLatch, other: CountDownLatch, v: Int) =
      (_: Map[String, DataFrame], _: Option[DataFrame]) => {
        mine.countDown()
        assert(other.await(60, TimeUnit.SECONDS), "sibling never started: nodes ran one at a time")
        srcFrame(Seq(("k", v)))
      }
    val m = new Materializer(spark, freshDir())
    val out = new Dag(m, Seq(
      Node("a", Mat.Table, Nil, meet(aIn, bIn, 1)),
      Node("b", Mat.Table, Nil, meet(bIn, aIn, 2)),
      Node("ab", Mat.Table, Seq("a", "b"),
        (r, _) => r("a").unionByName(r("b"))))).run()
    assert(out("ab").as[(String, Int)].collect().toSet == Set(("k", 1), ("k", 2)))
  }

  test("a failing node: its sibling commits, its dependent never runs, run() rethrows") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val m = new Materializer(spark, freshDir())
    val (first, second) = (new IllegalStateException("first"), new IllegalArgumentException("second"))
    val secondThrown = new CountDownLatch(1)
    val dependentRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val nodes = Seq(
      // fails LAST in time but is declared first: its failure is the one rethrown
      Node("bad", Mat.Table, Nil, (_, _) => {
        secondThrown.await(60, TimeUnit.SECONDS); throw first
      }),
      Node("good", Mat.Table, Nil, (_, _) => srcFrame(Seq(("g", 1)))),
      Node("bad2", Mat.Table, Nil, (_, _) => {
        secondThrown.countDown(); throw second
      }),
      Node("child", Mat.Table, Seq("bad"), (_, _) => {
        dependentRan.set(true); srcFrame(Seq(("c", 1)))
      }))
    val e = intercept[IllegalStateException](new Dag(m, nodes).run())
    assert(e eq first)
    assert(m.exists("good"), "the failed node's sibling must still commit")
    assert(!dependentRan.get() && !m.exists("child"), "a failed node's dependent ran")
  }

  test("table fully refreshes; incremental upserts across runs") {
    val m = new Materializer(spark, freshDir())
    var rows = Seq(("a", 5), ("b", 7))
    val n = new java.util.concurrent.atomic.AtomicInteger
    val dag = new Dag(m, diamond(() => srcFrame(rows), n))
    dag.run()
    rows = Seq(("b", 2), ("c", 9)) // next load: a vanished, b regressed, c new
    val out = dag.run()
    // table = full refresh: a is GONE, b reflects only the new load
    assert(out("agg").as[(String, Long)].collect().toSet ==
      Set(("b", 2L), ("c", 9L)))
    // incremental = upsert-by-key: a SURVIVES, b overwritten by its fresh row
    assert(out("latest").as[(String, Int)].collect().toSet ==
      Set(("a", 5), ("b", 2), ("c", 9)))
  }

  test("view refreshes on re-run and never writes to the warehouse") {
    val dir = freshDir()
    val m = new Materializer(spark, dir)
    var rows = Seq(("a", 1))
    val mk = () => new Dag(m, Seq(
      Node("live", Mat.View, Nil,
        (_, _) => srcFrame(rows).filter($"v" > 0)))).run()
    assert(mk()("live").count() == 1)
    rows = Seq(("a", 1), ("b", 2))
    // a view "rebuild" is free (no write), and it sees the new load —
    // dbt's CREATE OR REPLACE VIEW on rerun, minus the DDL
    assert(mk()("live").count() == 2)
    assert(Files.list(Paths.get(dir)).count() == 0)
  }

  test("unknown ref and cycles fail fast, naming the offenders") {
    val e1 = intercept[IllegalArgumentException] {
      Dag.levels(Seq(Node("m", Mat.Table, Seq("ghost"), (_, _) => srcFrame(Nil))))
    }
    assert(e1.getMessage.contains("ghost"))
    val e2 = intercept[IllegalArgumentException] {
      Dag.levels(Seq(
        Node("x", Mat.Table, Seq("y"), (_, _) => srcFrame(Nil)),
        Node("y", Mat.Table, Seq("x"), (_, _) => srcFrame(Nil))))
    }
    assert(e2.getMessage.contains("cycle"))
    val e3 = intercept[IllegalArgumentException] {
      Dag.levels(Seq(
        Node("d", Mat.Table, Nil, (_, _) => srcFrame(Nil)),
        Node("d", Mat.Table, Nil, (_, _) => srcFrame(Nil))))
    }
    assert(e3.getMessage.contains("duplicate"))
  }

  test("contracted node: conforming build materializes in contract order; breach fails the run") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val m = new Materializer(spark, freshDir())
    val contract = Seq(Contract.Col("k", StringType, notNull = true),
      Contract.Col("v", IntegerType))
    val ok = new Dag(m, Seq(
      Node("c", Mat.Table, Nil, (_, _) => srcFrame(Seq(("a", 1))).select($"v", $"k"),
        contract = Some(contract)))).run()
    assert(ok("c").columns.toSeq == Seq("k", "v"))
    intercept[IllegalArgumentException] {
      new Dag(m, Seq(
        Node("c2", Mat.Table, Nil,
          (_, _) => srcFrame(Seq(("a", 1))).withColumnRenamed("v", "rogue"),
          contract = Some(contract)))).run()
    }
    // dbt's rule: ephemerals cannot be contracted
    intercept[IllegalArgumentException] {
      Node("e", Mat.Ephemeral, Nil, (_, _) => srcFrame(Nil),
        contract = Some(contract))
    }
  }

  test("topological order is deterministic and declaration-stable") {
    val names = Seq(
      Node("c", Mat.View, Seq("a"), (r, _) => r("a")),
      Node("a", Mat.View, Nil, (_, _) => srcFrame(Seq(("a", 1)))),
      Node("b", Mat.View, Seq("a"), (r, _) => r("a")),
      Node("d", Mat.View, Seq("c", "b"), (r, _) => r("b")))
    assert(Dag.levels(names).flatten.map(_.name) == Seq("a", "c", "b", "d"))
  }
}
