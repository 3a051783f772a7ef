package graft.runtime

import graft.SparkSpec
import graft.ops.{Filters, Keys}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental materialization properties (SURVEY §5.3): upsert
  * idempotence + split-batch == full-run equivalence.
  */
class MaterializerSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-mat").toString

  private val rows = Seq(
    ("2024-01-01", "a", 1), ("2024-01-01", "b", 2),
    ("2024-01-02", "a", 3), ("2024-01-03", "b", 4))

  private def inputDf(rs: Seq[(String, String, Int)]): DataFrame =
    rs.toDF("ds", "k", "v").select(to_date($"ds").as("d"), $"k", $"v")

  // model: count per (d, k) with surrogate id, watermarked on d
  private def model(input: DataFrame)(prior: Option[DataFrame]): DataFrame = {
    val wm = Filters.watermark(prior, "d")
    Filters.watermarkFilter(input, "d", wm)
      .groupBy("d", "k").agg(count(lit(1)).as("n"))
      .withColumn("id", Keys.surrogateKey($"d", $"k"))
  }

  test("first run = full build; rerun on same input is idempotent") {
    val mat = new Materializer(spark, freshDir())
    val full = inputDf(rows)
    val r1 = mat.materialize("m", "id")(model(full)).collect().toSet
    val r2 = mat.materialize("m", "id")(model(full)).collect().toSet
    assert(r1.nonEmpty && r1 == r2)
  }

  test("property: every date-cut split-batch incremental equals the full run") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val dates = (1 to 6).map(d => f"2024-01-0$d")
    val rowGen = Gen.listOfN(30, Gen.zip(
      Gen.oneOf(dates), Gen.oneOf("a", "b", "c", "d", "e"), Gen.choose(1, 99)))
    (0 until 2).foreach { i =>
      val rs = rowGen.apply(Gen.Parameters.default, Seed(7L + i)).get
      val matFull = new Materializer(spark, freshDir())
      val full = matFull.materialize("m", "id")(model(inputDf(rs)))
        .select("id", "d", "k", "n").collect().toSet
      // cut at an early, middle, and late date — including cuts where one
      // batch is empty relative to the data
      Seq(dates(0), dates(2), dates(5)).foreach { cut =>
        val mat = new Materializer(spark, freshDir())
        mat.materialize("m", "id")(model(inputDf(rs.filter(_._1 <= cut))))
        val got = mat.materialize("m", "id")(model(inputDf(rs)))
          .select("id", "d", "k", "n").collect().toSet
        assert(got == full, s"seed ${7 + i} cut $cut diverged")
      }
    }
  }

  test("split-batch incremental == single full run") {
    val matA = new Materializer(spark, freshDir())
    val fullOut = matA.materialize("m", "id")(model(inputDf(rows)))
      .select("id", "d", "k", "n").collect().toSet

    val matB = new Materializer(spark, freshDir())
    val batch1 = rows.filter(_._1 <= "2024-01-02")
    matB.materialize("m", "id")(model(inputDf(batch1)))
    val incrOut = matB.materialize("m", "id")(model(inputDf(rows)))
      .select("id", "d", "k", "n").collect().toSet
    assert(incrOut == fullOut)
  }

  test("concurrent materializes of one model serialize: both upserts land, no clobber") {
    // two Materializer INSTANCES over the same warehouse (the shape two
    // engine entry points in one JVM produce): the JVM-global
    // (dir, model) monitor + OS file lock serialize each whole
    // materialize, so whichever order the threads win, the second build
    // reads the first's table as its prior — BOTH upserts land (the
    // serializable-history property; same final table either order) —
    // and unique tmp dirs mean no writer can clobber another's bytes.
    val dir = freshDir()
    val matA = new Materializer(spark, dir)
    val matB = new Materializer(spark, dir)
    matA.materialize("t", "id")(_ => Seq(("k1", 1)).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { matA.materialize("t", "id")(_ => Seq(("k1", 10)).toDF("id", "v")); () }
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { matB.materialize("t", "id")(_ => Seq(("k2", 20)).toDF("id", "v")); () }
      })
      fa.get(); fb.get()
    } finally pool.shutdown()
    val fin = spark.read.parquet(matA.outPath("t")).as[(String, Int)].collect().toMap
    assert(fin == Map("k1" -> 10, "k2" -> 20), s"lost or torn upsert: $fin")
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.contains("__tmp")).map(_.getName).toSeq
    assert(leftovers.isEmpty, s"orphaned tmp files: $leftovers")
    // manifest GC bounds disk: at most the published version + the one it
    // superseded (kept a cycle for uncoordinated readers)
    val versions = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("t__v_")).map(_.getName).toSeq
    assert(versions.size <= 2, s"version dirs not GC'd: $versions")
  }

  test("swap-lock reader + concurrent writer cannot deadlock") {
    // lock order is writer mutex → file lock → swap monitor: a reader
    // holding the swap monitor must read without touching the writer's
    // locks, or a writer holding them and waiting on the monitor to
    // flip the pointer closes a circular wait
    val mat = new Materializer(spark, freshDir())
    mat.materialize("t", "id")(_ => Seq(("k1", 1)).toDF("id", "v"))
    val v2 = Seq(("k2", 2)).toDF("id", "v")
    val readerIn = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var readerRows = -1L
    @volatile var writerDone = false
    val reader = new Thread(() => {
      mat.withSwapLock("t") {
        readerIn.countDown()
        release.await(20, java.util.concurrent.TimeUnit.SECONDS)
        readerRows = mat.readPrior("t").map(_.count()).getOrElse(0L)
      }
    })
    val writer = new Thread(() => {
      mat.materialize("t", "id")(_ => v2)
      writerDone = true
    })
    reader.setDaemon(true); writer.setDaemon(true)
    reader.start()
    assert(readerIn.await(20, java.util.concurrent.TimeUnit.SECONDS))
    writer.start()
    Thread.sleep(500) // let the writer reach its blocking acquisition
    release.countDown()
    reader.join(60000); writer.join(60000)
    assert(!reader.isAlive && !writer.isAlive,
      "reader/writer deadlocked")
    assert(readerRows == 1L, s"reader saw $readerRows rows of the pinned table")
    assert(writerDone)
    val end = mat.readPrior("t").get.as[(String, Int)].collect().toMap
    assert(end == Map("k1" -> 1, "k2" -> 2), end.toString)
  }

  test("readers never GC: an in-flight version dir survives reads, dies at the next commit") {
    val dir = freshDir()
    val mat = new Materializer(spark, dir)
    mat.materialize("t", "id")(_ => Seq(("k1", 1)).toDF("id", "v"))
    // a concurrent materialize's in-flight (or crashed) version write:
    // readers must not delete it out from under the writer — GC runs
    // only inside a commit, which the writer locks exclude
    val inflight = java.nio.file.Paths.get(s"$dir/t__v_inflight")
    Files.createDirectories(inflight)
    Files.writeString(inflight.resolve("part-inflight"), "writer owns this")
    assert(mat.readPrior("t").isDefined)
    assert(Files.exists(inflight.resolve("part-inflight")),
      "reader-side resolution deleted an in-flight version dir")
    // the next COMMIT does GC it (it is neither published nor new)
    mat.materialize("t", "id")(_ => Seq(("k2", 2)).toDF("id", "v"))
    assert(!Files.exists(inflight), "orphan version dir must be GC'd at commit")
  }

  test("cross-process reader never observes a missing table across manifest commits") {
    // the r6 seam this layout exists to close: an UNCOORDINATED reader
    // (another process — simulated here by reading through outPath with
    // no locks) resolving mid-commit must always find an intact table.
    // Under the old rename swap this window was real (live dir missing
    // between the two renames); under the manifest the pointer always
    // names a dir that survives at least one full materialize cycle.
    val mat = new Materializer(spark, freshDir())
    mat.materialize("t", "id")(_ => Seq(("k0", 0)).toDF("id", "v"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var readerFailure: Throwable = null
    @volatile var reads = 0
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val n = spark.read.parquet(mat.outPath("t")).count()
          assert(n >= 1, s"read an empty table: $n")
          reads += 1
        }
      } catch { case t: Throwable => readerFailure = t }
    })
    reader.setDaemon(true)
    reader.start()
    (1 to 5).foreach { i =>
      mat.materialize("t", "id")(_ => Seq((s"k$i", i)).toDF("id", "v"))
      ()
    }
    stop.set(true)
    reader.join(30000)
    assert(readerFailure == null,
      s"uncoordinated reader failed mid-commit: $readerFailure")
    assert(reads > 0, "reader never completed a read — test proves nothing")
    val fin = mat.readPrior("t").get.as[(String, Int)].collect().toMap
    assert(fin == (0 to 5).map(i => s"k$i" -> i).toMap, fin.toString)
  }

  test("withSwapLock readers are never blocked by an in-flight build") {
    // the writer mutex covers the whole materialize, but the swap
    // monitor (which readers share) must only cover the renames — a
    // downstream streaming model pinning this table has to read freely
    // while an upstream batch builds for seconds
    val mat = new Materializer(spark, freshDir())
    mat.materialize("t", "id")(_ => Seq(("k1", 1)).toDF("id", "v"))
    val buildEntered = new java.util.concurrent.CountDownLatch(1)
    val releaseBuild = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      mat.materialize("t", "id") { _ =>
        buildEntered.countDown()
        releaseBuild.await()
        Seq(("k2", 2)).toDF("id", "v")
      }
      ()
    })
    writer.start()
    try {
      assert(buildEntered.await(30, java.util.concurrent.TimeUnit.SECONDS), "build never started")
      // reader pins and scans WHILE the writer sits mid-build holding
      // the writer mutex + file lock — this deadlocked under a
      // single-monitor design. Time-bounded on a daemon thread so a
      // regression fails the test instead of hanging the suite.
      @volatile var pinned: Map[String, Int] = null
      val reader = new Thread(() => {
        pinned = mat.withSwapLock("t") {
          mat.readPrior("t").get.as[(String, Int)].collect().toMap
        }
      })
      reader.setDaemon(true)
      reader.start()
      reader.join(30000)
      assert(pinned == Map("k1" -> 1), s"reader blocked by in-flight build: $pinned")
    } finally releaseBuild.countDown()
    writer.join(60000)
    assert(!writer.isAlive, "writer failed to finish after release")
    val fin = spark.read.parquet(mat.outPath("t")).as[(String, Int)].collect().toMap
    assert(fin == Map("k1" -> 1, "k2" -> 2), fin.toString)
  }

  test("upsert replaces matching ids and appends new ones") {
    val mat = new Materializer(spark, freshDir())
    val v1 = Seq(("k1", 1), ("k2", 2)).toDF("id", "v")
    val v2 = Seq(("k2", 20), ("k3", 30)).toDF("id", "v")
    mat.materialize("t", "id")(_ => v1)
    val out = mat.materialize("t", "id")(_ => v2)
      .as[(String, Int)].collect().toMap
    assert(out == Map("k1" -> 1, "k2" -> 20, "k3" -> 30))
  }

  test("a version dir without a stored schema still reads and upserts") {
    val dir = freshDir()
    val mat = new Materializer(spark, dir)
    mat.materialize("t", "id")(_ => Seq(("k1", 1), ("k2", 2)).toDF("id", "v"))
    val stored = java.nio.file.Paths.get(mat.outPath("t"), Materializer.SchemaFile)
    assert(Files.exists(stored), "a commit must record its schema")
    // a version written before schemas were stored: inference fallback
    Files.delete(stored)
    assert(mat.readPrior("t").get.as[(String, Int)].collect().toMap ==
      Map("k1" -> 1, "k2" -> 2))
    val out = mat.materialize("t", "id")(_ => Seq(("k2", 20), ("k3", 30)).toDF("id", "v"))
    assert(out.as[(String, Int)].collect().toMap == Map("k1" -> 1, "k2" -> 20, "k3" -> 30))
    // the upsert's own version records its schema again
    assert(Files.exists(java.nio.file.Paths.get(mat.outPath("t"), Materializer.SchemaFile)))
    assert(out.schema == spark.read.parquet(mat.outPath("t")).schema)
  }

  test("append strategy: batches accumulate with no key matching; duplicates survive") {
    val mat = new Materializer(spark, freshDir())
    mat.materializeAppend("log")(_ => Seq(("e1", 1), ("e2", 2)).toDF("id", "v"))
    // same ids again: append must NOT dedup or replace
    mat.materializeAppend("log")(_ => Seq(("e1", 10), ("e3", 3)).toDF("id", "v"))
    val out = mat.readPrior("log").get.as[(String, Int)].collect().toSeq
    assert(out.sorted == Seq(("e1", 1), ("e1", 10), ("e2", 2), ("e3", 3)),
      out.toString)
    // the prior is still offered to the build fn for watermarking
    val seen = mat.materializeAppend("log")(p => {
      assert(p.get.count() == 4); Seq(("e4", 4)).toDF("id", "v")
    })
    assert(seen.count() == 5)
  }

  test("time travel: every retained commit is readable; aged-out versions throw") {
    val mat = new Materializer(spark, freshDir(), keepVersions = 3)
    def run(rows: (String, Int)*): Unit =
      { mat.materialize("t", "id")(_ => rows.toDF("id", "v")); () }
    run("k1" -> 1)
    run("k1" -> 1, "k2" -> 2)
    run("k1" -> 10, "k2" -> 2)
    val seqs = mat.history("t").map(_._1)
    assert(seqs == Seq(1L, 2L, 3L), seqs.toString)
    assert(mat.readVersion("t", 1).as[(String, Int)].collect().toSet == Set("k1" -> 1))
    assert(mat.readVersion("t", 3).as[(String, Int)].collect().toSet ==
      Set("k1" -> 10, "k2" -> 2))
    // a fourth commit ages out seq 1 (window = 3)
    run("k3" -> 3, "k1" -> 10, "k2" -> 2)
    assert(mat.history("t").map(_._1) == Seq(2L, 3L, 4L))
    intercept[IllegalArgumentException](mat.readVersion("t", 1))
    // current read still resolves through the pointer
    assert(mat.readPrior("t").get.count() == 3)
  }

  test("rollback republishes a retained commit as a NEW commit; history stays linear") {
    val mat = new Materializer(spark, freshDir(), keepVersions = 3)
    def run(rows: (String, Int)*): Unit =
      { mat.materialize("t", "id")(_ => rows.toDF("id", "v")); () }
    run("k1" -> 1)
    run("k1" -> 99, "k2" -> 2)   // the bad deploy
    val rolled = mat.rollback("t", 1).as[(String, Int)].collect().toSet
    assert(rolled == Set("k1" -> 1), rolled.toString)
    // current table resolves to the rolled-back rows; history gained a
    // commit instead of rewriting the past
    assert(mat.readPrior("t").get.as[(String, Int)].collect().toSet == Set("k1" -> 1))
    assert(mat.history("t").map(_._1) == Seq(1L, 2L, 3L), mat.history("t").toString)
    // the change feed across the rollback is the inverse of the bad edit
    val feed = mat.changesBetween("t", 2, 3, "id")
      .select("id", "_change_type").as[(String, String)].collect().toSet
    assert(feed == Set(("k1", "update"), ("k2", "delete")), feed.toString)
    // rolling back to a version that never existed throws before writing
    intercept[IllegalArgumentException](mat.rollback("t", 99))
    // the next regular materialize continues on top of the rollback
    run("k3" -> 3)
    assert(mat.readPrior("t").get.as[(String, Int)].collect().toSet ==
      Set("k1" -> 1, "k3" -> 3))
  }

  test("default retention still prunes to two version dirs on disk") {
    val dir = freshDir()
    val mat = new Materializer(spark, dir)
    (1 to 4).foreach(i => mat.materialize("t", "id")(_ => Seq(("k", i)).toDF("id", "v")))
    val vdirs = new java.io.File(dir).list().count(_.startsWith("t__v_"))
    assert(vdirs == 2, s"expected 2 retained version dirs, found $vdirs")
    assert(mat.history("t").size == 2)
  }

  test("change feed classifies insert/update/delete with the right row images") {
    val mat = new Materializer(spark, freshDir(), keepVersions = 4)
    mat.materialize("t", "id")(_ =>
      Seq(("k1", 1, "x"), ("k2", 2, "y"), ("k3", 3, "z")).toDF("id", "v", "s"))
    // full-refresh semantics for the diff test: drop k3, change k2, add k4
    // (the upsert path never deletes, so build the second state directly)
    mat.materialize("t2", "id")(_ =>
      Seq(("k1", 1, "x"), ("k2", 2, "y"), ("k3", 3, "z")).toDF("id", "v", "s"))
    mat.materialize("t2", "id")(prior =>
      Seq(("k2", 20, "y"), ("k4", 4, "w")).toDF("id", "v", "s"))
    // t2 v1 -> v2 via the UPSERT path: k3 survives (no delete), k2 updates
    val upsertFeed = mat.changesBetween("t2", 1, 2, "id")
      .as[(String, Int, String, String)].collect().toSet
    assert(upsertFeed == Set(("k2", 20, "y", "update"), ("k4", 4, "w", "insert")),
      upsertFeed.toString)
    // pure diff incl. delete: ChangeFeed directly on two states
    val feed = ChangeFeed.diff(
        Seq(("k1", 1, "x"), ("k2", 2, "y"), ("k3", 3, "z")).toDF("id", "v", "s"),
        Seq(("k1", 1, "x"), ("k2", 20, "y"), ("k4", 4, "w")).toDF("id", "v", "s"),
        "id")
      .as[(String, Int, String, String)].collect().toSet
    assert(feed == Set(
      ("k2", 20, "y", "update"),   // post-image
      ("k3", 3, "z", "delete"),    // pre-image
      ("k4", 4, "w", "insert")), feed.toString)
  }

  test("change feed: null-vs-empty and null-pattern payloads are distinct states") {
    val oldDf = Seq(("k1", Some(""), Some("x")), ("k2", None, Some("x")))
      .toDF("id", "a", "b")
    val newDf = Seq(("k1", None: Option[String], Some("x")), ("k2", Some("x"), None: Option[String]))
      .toDF("id", "a", "b")
    val feed = ChangeFeed.diff(oldDf, newDf, "id")
      .select("id", ChangeFeed.ChangeCol).as[(String, String)].collect().toSet
    // "" -> NULL is a real update (concat-style hashing would miss it);
    // swapping which column is null is too
    assert(feed == Set("k1" -> "update", "k2" -> "update"), feed.toString)
  }

  test("replaying the change feed onto the old state reconstructs the new state") {
    val oldDf = Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("id", "v")
    val newDf = Seq(("k1", 1), ("k2", 20), ("k4", 4)).toDF("id", "v")
    val feed = ChangeFeed.diff(oldDf, newDf, "id")
    val deletes = feed.filter(col(ChangeFeed.ChangeCol) === "delete").select("id")
    val upserts = feed.filter(col(ChangeFeed.ChangeCol) =!= "delete").drop(ChangeFeed.ChangeCol)
    val replayed = oldDf
      .join(feed.select("id"), Seq("id"), "left_anti")  // untouched keys
      .unionByName(upserts)
    assert(replayed.as[(String, Int)].collect().toSet ==
      newDf.as[(String, Int)].collect().toSet)
    assert(deletes.as[String].collect().toSeq == Seq("k3"))
  }
}

class PartitionOverwriteSpec extends graft.SparkSpec {
  import spark.implicits._
  import graft.ops.{Filters, Keys}
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-pow").toString

  private val rows = Seq(
    ("2024-01-01", "a", 1), ("2024-01-01", "b", 2),
    ("2024-01-02", "a", 3), ("2024-01-03", "b", 4))

  private def inputDf(rs: Seq[(String, String, Int)]): DataFrame =
    rs.toDF("ds", "k", "v").select(to_date($"ds").as("d"), $"k", $"v")

  private def model(input: DataFrame)(prior: Option[DataFrame]): DataFrame = {
    val wm = Filters.watermark(prior, "d")
    Filters.watermarkFilter(input, "d", wm)
      .groupBy("d", "k").agg(count(lit(1)).as("n"))
      .withColumn("id", Keys.surrogateKey($"d", $"k"))
  }

  test("date-partition overwrite == anti-join upsert for date-functional keys") {
    val upsert = new Materializer(spark, freshDir())
    upsert.materialize("m", "id")(model(inputDf(rows.filter(_._1 <= "2024-01-02"))))
    val expected = upsert.materialize("m", "id")(model(inputDf(rows)))
      .select("id", "k", "n", "d").as[(String, String, Long, java.sql.Date)]
      .collect().toSet

    val pow = new Materializer(spark, freshDir())
    pow.materializeByDatePartition("m", "d")(model(inputDf(rows.filter(_._1 <= "2024-01-02"))))
    val got = pow.materializeByDatePartition("m", "d")(model(inputDf(rows)))
      .select("id", "k", "n", "d").as[(String, String, Long, java.sql.Date)]
      .collect().toSet
    assert(got == expected)
  }

  test("partition overwrite rewrites only the touched date partitions") {
    val pow = new Materializer(spark, freshDir())
    pow.materializeByDatePartition("m", "d")(model(inputDf(rows)))
    val out = new java.io.File(pow.outPath("m"))
    val parts = out.listFiles().filter(_.getName.startsWith("d=")).map(_.getName).sorted
    assert(parts.toSeq == Seq("d=2024-01-01", "d=2024-01-02", "d=2024-01-03"))
  }

  test("date filter on the partitioned layout prunes partition DIRECTORIES, not just row groups") {
    // the 100 TB point of this layout: a watermark re-read must show up
    // as PartitionFilters on the scan (directories never listed into the
    // plan), so incremental cost is O(touched dates) at the FILE level
    val pow = new Materializer(spark, freshDir())
    pow.materializeByDatePartition("m", "d")(model(inputDf(rows)))
    val q = spark.read.parquet(pow.outPath("m"))
      .filter($"d" >= java.sql.Date.valueOf("2024-01-03"))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "d")),
      s"date predicate did not reach partitionFilters: ${scan.partitionFilters}")
    // the pruned scan reads exactly the one matching partition's rows
    assert(q.count() == 1)
    assert(scan.metadata.get("PartitionFilters").exists(_.nonEmpty),
      s"scan metadata shows no partition filters: ${scan.metadata}")
  }
}
