package graftbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every input is a pure function of
  * (seed, index): the same seed gives byte-identical rows, a different
  * seed different rows, and nothing depends on the host or the clock.
  * The engine only ever sees the generated rows.
  */
object Inputs {

  /** Per-(seed, stream, index) generator, so one stream's length never
    * shifts another stream's values. The seed goes through a splitmix64
    * finalizer: java.util.Random's first draws from nearby seeds are
    * correlated, which skewed per-id draws.
    */
  def rng(seed: Long, stream: Int, index: Long): Random = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + index
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new Random(z ^ (z >>> 31))
  }

  // ── warehouse_refresh: Snowplow-style events in the fixture shape ──

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  /** 2024-01-01T00:00:00Z in epoch millis; day d covers [base + d·24h). */
  val BaseMillis: Long = 1704067200000L
  private val DayMillis = 86400000L
  // the repository's events fixture mix: five types, one fifth each.
  // view/click → page_view, purchase → campaign spends, signup → leads
  // (the mapping model/RefShapes applies); error passes through.
  private val EventTypes = Array("view", "click", "purchase", "signup", "error")

  /** One day of events. Ids are dense and increasing across days and
    * timestamps fall strictly inside the day, so landing day d+1 is a
    * pure append in event time.
    *
    * The source contract the reference models assume is kept: at most
    * one campaign-spend row per (campaign, day) and at most one
    * lead stage change per (user, day) — RefShapes derives both from
    * purchase/signup events, so a purchase or signup that would break
    * the contract is emitted as a plain view instead.
    */
  def eventsForDay(seed: Long, day: Int, perDay: Int, users: Int): Seq[Event] = {
    val r = rng(seed, 1, day)
    val start = BaseMillis + day * DayMillis
    val offsets = Array.fill(perDay)(r.nextInt(86399000).toLong).sorted
    val spendKeys = mutable.Set[Long]()
    val leadUsers = mutable.Set[Long]()
    offsets.indices.map { i =>
      val id = day.toLong * perDay + i
      val user = r.nextInt(users).toLong
      val drawn = EventTypes(r.nextInt(EventTypes.length))
      // RefShapes: spends are purchases with even ids (the daily model
      // joins them on campaign and day); leads are signups with id % 3 == 0
      val et = drawn match {
        case "purchase" if id % 2 == 0 && !spendKeys.add(campaignOf(id)) => "view"
        case "signup" if id % 3 == 0 && !leadUsers.add(user) => "view"
        case t => t
      }
      Event(id, new Timestamp(start + offsets(i)), user, et, (r.nextInt(4000) / 4.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** RefShapes.campaignSpendsRef's campaign_name of an even event id. */
  private def campaignOf(id: Long): Long = if (id % 4 == 0) -1L else id % 6

  // ── corpus workloads: word documents with planted duplicates ──

  private def word(i: Int): String = {
    val sb = new StringBuilder("w")
    var n = i
    while ({ sb.append(('a' + n % 26).toChar); n /= 26; n > 0 }) ()
    sb.toString
  }
  private val Vocab = 20000
  private val vocab: Array[String] = Array.tabulate(Vocab)(word)

  def randomText(r: Random, tokens: Int): String =
    Array.fill(tokens)(vocab(r.nextInt(Vocab))).mkString(" ")

  /** Replace one token: token-set Jaccard with the source stays ≥ 0.96
    * at 55 tokens, far above the 0.8 dedup threshold, so the planted
    * near-duplicate is found with LSH miss probability < 1e-7.
    */
  def nearCopy(r: Random, text: String): String = {
    val toks = text.split(" ")
    toks(r.nextInt(toks.length)) = vocab(r.nextInt(Vocab)) + "x"
    toks.mkString(" ")
  }

  /** A character-level variant: one character changed in every fourth
    * token. Token Jaccard drops to ~0.6 (below the near-dup threshold,
    * so MinHash keeps both) and no 5-token span is shared (so the span
    * scrub leaves both intact), while the edit distance stays at
    * tokens/4 — the pairs the edit-distance step must find.
    */
  def typoCopy(text: String): String =
    text.split(" ").zipWithIndex.map { case (t, i) =>
      if (i % 4 == 0) t.updated(0, 'v') else t
    }.mkString(" ")

  sealed trait Kind
  case object Original extends Kind
  final case class ExactOf(src: Long) extends Kind
  final case class NearOf(src: Long) extends Kind
  final case class TypoOf(src: Long) extends Kind

  final case class Doc(id: Long, text: String, lang: String, kind: Kind)

  /** The mean length of the documents fixture (TESTDATA.md). */
  val DocTokens = 55
  private val Langs = Array("en", "de", "fr")

  /** The ingest stream: batch b holds `size` docs with ids
    * [firstId + b·size, …). About 10% are exact and 10% near copies of an
    * original from an EARLIER batch or the seed corpus (ids below
    * `firstId`), so every planted duplicate has an older witness; the
    * rest are fresh originals.
    */
  def ingestBatch(seed: Long, b: Int, size: Int, firstId: Long): Seq[Doc] = {
    val start = firstId + b.toLong * size
    (0 until size).map(i => ingestDoc(seed, start + i, firstId, start))
  }

  /** Seed corpus (ids 0 until n): originals only. */
  def seedCorpus(seed: Long, n: Int): Seq[Doc] =
    (0 until n).map(i => Doc(i.toLong, originalAt(seed, i.toLong), "en", Original))

  /** The text an ORIGINAL with this id carries (a per-id generator), so
    * a planted copy can name its witness by id alone.
    */
  def originalAt(seed: Long, id: Long): String =
    randomText(rng(seed, 3, id), DocTokens)

  private def copyDraw(seed: Long, id: Long): Double = rng(seed, 8, id).nextDouble()

  private def isOriginal(seed: Long, id: Long, firstId: Long): Boolean =
    id < firstId || copyDraw(seed, id) >= 0.2

  private def ingestDoc(seed: Long, id: Long, firstId: Long, batchStart: Long): Doc =
    if (isOriginal(seed, id, firstId)) Doc(id, originalAt(seed, id), "en", Original)
    else {
      val r = rng(seed, 2, id)
      var src = -1L
      while (src < 0) {
        val c = r.nextLong(batchStart)
        if (isOriginal(seed, c, firstId)) src = c
      }
      if (copyDraw(seed, id) < 0.1) Doc(id, originalAt(seed, src), "en", ExactOf(src))
      else Doc(id, nearCopy(r, originalAt(seed, src)), "en", NearOf(src))
    }

  /** One curate shard: `originals` fresh docs plus planted exact, near
    * and typo copies with HIGHER ids than their sources (dedup keeps the
    * lowest id, so the originals are the survivors by construction).
    */
  def curateShard(seed: Long, shard: Int, originals: Int): Seq[Doc] = {
    val r = rng(seed, 4, shard)
    val base = shard.toLong * 1000000L
    val origs = (0 until originals).map { i =>
      Doc(base + i, randomText(r, DocTokens), Langs(r.nextInt(Langs.length)), Original)
    }
    val copies = (0 until originals / 5).flatMap { j =>
      val src = origs(r.nextInt(originals))
      val id0 = base + originals + 3L * j
      Seq(Doc(id0, src.text, src.lang, ExactOf(src.id)),
        Doc(id0 + 1, nearCopy(r, src.text), src.lang, NearOf(src.id)))
    }
    val typos = (0 until originals / 20).map { j =>
      val src = origs(j * 20 % originals)
      Doc(base + originals + 3L * j + 2, typoCopy(src.text), src.lang, TypoOf(src.id))
    }
    origs ++ copies ++ typos
  }

  // ── kNN: clustered vectors ──

  /** The width of the embeddings fixture (TESTDATA.md). */
  val Dims = 64
  private val Clusters = 48

  private def centers(seed: Long): Array[Array[Float]] = {
    val r = rng(seed, 5, 0)
    Array.fill(Clusters)(Array.fill(Dims)((r.nextGaussian() * 4).toFloat))
  }

  /** `n` corpus vectors (ids 0 until n), a Gaussian blob per cluster. */
  def corpusVectors(seed: Long, n: Int): Seq[(Long, Array[Float])] = {
    val c = centers(seed)
    (0 until n).map { i =>
      val r = rng(seed, 6, i)
      val ctr = c(r.nextInt(Clusters))
      (i.toLong, Array.tabulate(Dims)(d => ctr(d) + r.nextGaussian().toFloat))
    }
  }

  /** Query batch q: `size` vectors near corpus clusters, ids far above
    * the corpus range (exact search excludes a query's own id).
    */
  def queryBatch(seed: Long, q: Int, size: Int): Seq[(Long, Array[Float])] = {
    val c = centers(seed)
    val r = rng(seed, 7, q)
    (0 until size).map { i =>
      val ctr = c(r.nextInt(Clusters))
      (1000000000L + q.toLong * size + i,
        Array.tabulate(Dims)(d => ctr(d) + r.nextGaussian().toFloat))
    }
  }
}
