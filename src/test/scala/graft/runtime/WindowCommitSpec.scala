package graft.runtime

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** The per-partition manifest commit for the partitioned layouts
  * (Materializer.commitWindowedVersion): real window data lives once in
  * `<model>__windata`, each commit publishes an immutable version dir
  * of `date=` symlinks through the ordinary pointer flip — so a reader
  * looping DURING a window rebuild never observes a missing or partial
  * partition, the fixed-dir reader-during-rebuild seam VERDICT r7
  * named.
  */
class WindowCommitSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-wc").toString

  private val begin = LocalDate.parse("2024-01-01")
  private val days = (1 to 3).map(d => LocalDate.parse(f"2024-01-0$d"))

  /** Build one window: `rows` rows for `day`, every row stamped with
    * generation `gen` — the consistency marker the reader checks.
    */
  private def window(gen: Int, rows: Int)(lo: LocalDate, hi: LocalDate) =
    (0 until rows).map(i => (java.sql.Date.valueOf(lo), i, gen))
      .toDF("event_date", "i", "gen")

  test("windowed commits are immutable symlink versions over a shared windata store") {
    val dir = freshDir()
    val mat = new Materializer(spark, dir)
    mat.materializeMicrobatch("m", "event_date", begin, days.last)(window(1, 4))
    val v1 = Paths.get(mat.outPath("m"))
    days.foreach { d =>
      val part = v1.resolve(s"event_date=$d")
      assert(Files.isSymbolicLink(part), s"$part must be a windata symlink")
    }
    // rebuild ONE window: the new version re-links the untouched days
    // to the SAME real dirs (no data rewrite) and the rebuilt day to a
    // fresh windata dir
    mat.rebuildMicrobatchWindow("m", "event_date", days(1))(window(2, 5))
    val v2 = Paths.get(mat.outPath("m"))
    assert(v2 != v1, "windowed commit must publish a new version dir")
    def target(v: java.nio.file.Path, d: LocalDate) =
      Files.readSymbolicLink(v.resolve(s"event_date=$d")).normalize()
    assert(target(v2, days(0)) == target(v1, days(0)),
      "untouched window must carry the same real dir forward")
    assert(target(v2, days(1)) != target(v1, days(1)),
      "rebuilt window must point at fresh windata")
    // the superseded version STILL READS (keep-one-generation): time
    // travel over windowed commits composes for free
    val seqs = mat.history("m").map(_._1)
    val old = mat.readVersion("m", seqs(seqs.size - 2))
      .filter($"event_date" === java.sql.Date.valueOf(days(1)))
    assert(old.select("gen").distinct().as[Int].collect().toSeq == Seq(1))
    // live read resolves the newest generation
    val live = spark.read.parquet(mat.outPath("m"))
      .filter($"event_date" === java.sql.Date.valueOf(days(1)))
    assert(live.select("gen").distinct().as[Int].collect().toSeq == Seq(2))
    assert(live.count() == 5)
    // windata GC: after one MORE rebuild the v1 window dir ages out
    mat.rebuildMicrobatchWindow("m", "event_date", days(1))(window(3, 6))
    val windata = Paths.get(dir, "m__windata")
    val gens = Option(windata.toFile.list()).toSeq.flatten
      .filter(_.startsWith("event_date=2024-01-02__v")).sorted
    assert(gens == Seq("event_date=2024-01-02__v2", "event_date=2024-01-02__v3"),
      s"windata retention must follow version retention: $gens")
  }

  test("a reader looping during window rebuilds never sees a missing or partial partition") {
    // keepVersions=4 widens retention so a slow reader pass can never
    // outlive its resolved version mid-scan even while rebuilds hammer
    // the table (the same knob any uncoordinated reader deployment uses)
    val mat = new Materializer(spark, freshDir(), keepVersions = 4)
    mat.materializeMicrobatch("m", "event_date", begin, days.last)(window(1, 4))
    @volatile var writerDone = false
    @volatile var readerFailure: Option[String] = None
    var reads = 0
    val reader = new Thread(() => {
      try {
        while (!writerDone && readerFailure.isEmpty) {
          // re-resolve the manifest pointer each pass, like any reader
          val snap = spark.read.parquet(mat.outPath("m"))
            .groupBy($"event_date".cast("string").as("d"))
            .agg(countDistinct($"gen").as("gens"),
              first($"gen").as("gen"), count(lit(1)).as("n"))
            .collect()
            .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
          reads += 1
          // every partition present — a missing day is the torn-window bug
          val dayNames = snap.map(_._1).toSet
          if (dayNames != days.map(_.toString).toSet)
            readerFailure = Some(s"partition vanished mid-rebuild: $dayNames")
          // every partition internally consistent: ONE generation, and
          // exactly that generation's committed row count (gen g wrote
          // 3+g rows) — a mixed or truncated dir is a partial window
          snap.foreach { case (d, gens, gen, n) =>
            if (gens != 1L)
              readerFailure = Some(s"$d mixes $gens generations")
            else if (n != 3L + gen)
              readerFailure = Some(s"$d gen $gen has $n rows, expected ${3 + gen}")
          }
        }
      } catch {
        case e: Throwable => readerFailure = Some(s"reader threw: $e")
      }
    })
    reader.start()
    try {
      // hammer the middle window with rebuilds while the reader loops
      (2 to 12).foreach { g =>
        mat.rebuildMicrobatchWindow("m", "event_date", days(1))(window(g, 3 + g))
      }
    } finally {
      writerDone = true
      reader.join(60000)
    }
    assert(readerFailure.isEmpty, readerFailure.getOrElse(""))
    assert(reads > 0, "reader never completed a pass")
  }

  test("warehouse reached through a SYMLINKED path: windata GC never deletes live windows") {
    // gc references compare by windata entry NAME: full-path comparison
    // mis-matches toRealPath-resolved link targets against the logical
    // listing path whenever baseDir itself sits behind a symlink, and
    // deleted the just-published version's untouched windows
    val real = freshDir()
    val alias = Paths.get(real + "_alias")
    Files.createSymbolicLink(alias, Paths.get(real))
    val mat = new Materializer(spark, alias.toString)
    mat.materializeMicrobatch("m", "event_date", begin, days.last)(window(1, 4))
    mat.rebuildMicrobatchWindow("m", "event_date", days(1))(window(2, 5))
    mat.rebuildMicrobatchWindow("m", "event_date", days(1))(window(3, 6))
    // untouched days 1 and 3 must still read after two GC-running commits
    val t = spark.read.parquet(mat.outPath("m"))
    assert(t.groupBy().count().as[Long].collect().head == 4 + 4 + 6)
    assert(t.select($"event_date".cast("string")).distinct().as[String]
      .collect().toSet == days.map(_.toString).toSet)
  }

  test("windowed commit over a prior KEYED table refuses loudly instead of dropping rows") {
    val mat = new Materializer(spark, freshDir())
    mat.materialize("m", "id")(_ => Seq(("k1", 1), ("k2", 2)).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      mat.rebuildMicrobatchWindow("m", "event_date", days(0))(window(1, 3))
    }
    assert(e.getMessage.contains("plain keyed table"), e.getMessage)
  }

  test("an UNMARKED windata orphan (failed fresh write) is swept, never resurrected") {
    val dir = freshDir()
    val mat = new Materializer(spark, dir)
    mat.materializeMicrobatch("m", "event_date", begin, days.last)(window(1, 4))
    // a crashed commit's fresh-write bytes for a day that never
    // published: no marker → resurfacing it would publish failed-commit
    // data, so it must be GC'd, not healed
    val windata = Paths.get(dir, "m__windata")
    val orphan = windata.resolve("event_date=2024-01-05__v1")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("stale.bin"), Array[Byte](1))
    mat.rebuildMicrobatchWindow("m", "event_date", days(1))(window(2, 5))
    val t = spark.read.parquet(mat.outPath("m"))
    assert(t.select($"event_date".cast("string")).distinct().as[String]
      .collect().toSet == days.map(_.toString).toSet,
      "failed-commit day must not appear")
    assert(!Files.exists(orphan), "unreferenced orphan must be swept")
  }

  test("crash before publish leaves only orphans; the next commit GCs them") {
    val mat = new Materializer(spark, freshDir())
    mat.materializeMicrobatch("m", "event_date", begin, days.last)(window(1, 4))
    // simulate a crashed run: staging bytes landed, no publish happened
    val base = Paths.get(mat.outPath("m")).getParent
    val orphan = base.resolve("m__stage_deadbeef")
    window(99, 9)(days(1), days(1).plusDays(1))
      .write.partitionBy("event_date").parquet(orphan.toString)
    // uncommitted: reads are untouched by the orphan
    val t = spark.read.parquet(mat.outPath("m"))
    assert(t.filter($"gen" === 99).count() == 0)
    // the next committed run sweeps it
    mat.rebuildMicrobatchWindow("m", "event_date", days(2))(window(2, 5))
    assert(!Files.exists(orphan), "staging orphan survived the next commit")
  }
}
