package graft.ext

import graft.SparkSpec
import graft.runtime.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The structural gates must be FALSIFIABLE — a gate that cannot fail
  * gates nothing. Each case plants one specific violation in an
  * otherwise-correct result and asserts exactly the matching flag
  * flips (and, on the clean result, that every flag holds).
  */
class StructGateSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = Sources(spark, dir).embeddings
  private def queries = emb.filter(col("vec_id") < 5)

  private def allTrue(df: DataFrame, except: Set[String] = Set.empty): Unit = {
    val row = df.collect().head
    df.columns.zipWithIndex.foreach { case (c, i) =>
      if (row.get(i).isInstanceOf[Boolean]) {
        val v = row.getBoolean(i)
        if (except(c)) assert(!v, s"flag $c should have flipped")
        else assert(v, s"flag $c unexpectedly false")
      }
    }
  }

  test("topKGate: clean exact result passes; each planted violation flips its flag") {
    val clean = SimilarityOps.bruteForceTopK(emb, queries, k = 3)
    val gate = StructGate.topKGate(clean, queries, emb)
    assert(gate.count() == queries.count() * 3)
    assert(gate.filter(!col("id_ok") || !col("no_self") ||
      !col("sim_exact") || !col("order_ok")).count() == 0)
    // fabricated sim
    val badSim = clean.withColumn("sim",
      when(col("rank") === 2, col("sim") + 0.5).otherwise(col("sim")))
    assert(StructGate.topKGate(badSim, queries, emb)
      .filter(!col("sim_exact")).count() > 0)
    // self-match
    val selfed = clean.withColumn("corpus_id",
      when(col("rank") === 1, col("query_id")).otherwise(col("corpus_id")))
    assert(StructGate.topKGate(selfed, queries, emb)
      .filter(!col("no_self")).count() > 0)
    // id outside the corpus
    val foreign = clean.withColumn("corpus_id",
      when(col("rank") === 3, lit(999999L)).otherwise(col("corpus_id")))
    assert(StructGate.topKGate(foreign, queries, emb)
      .filter(!col("id_ok")).count() > 0)
    // rank order inconsistent with sims
    val swapped = clean.withColumn("rank",
      when(col("rank") === 1, 2).when(col("rank") === 2, 1).otherwise(col("rank")))
    assert(StructGate.topKGate(swapped, queries, emb)
      .filter(!col("order_ok")).count() > 0)
    // a missing rank surfaces as a missing (query, rank) key — the
    // oracle side of the contract; here just pin the count drops
    assert(StructGate.topKGate(clean.filter(col("rank") =!= 2), queries, emb)
      .count() < queries.count() * 3)
  }

  test("cosinePairGate: clean verified pairs pass; violations flip flags") {
    val clean = SimilarityOps.cosinePairs(emb, 0.35)
    allTrue(StructGate.cosinePairGate(clean, emb, 0.35))
    allTrue(StructGate.cosinePairGate(
        clean.withColumn("sim", col("sim") - 0.4), emb, 0.35),
      except = Set("sim_exact", "threshold_ok"))
    val flipped = clean.select(col("vec_b").as("vec_a"),
      col("vec_a").as("vec_b"), col("sim"))
    allTrue(StructGate.cosinePairGate(flipped, emb, 0.35),
      except = Set("ordered_ok"))
    allTrue(StructGate.cosinePairGate(clean.unionAll(clean), emb, 0.35),
      except = Set("pairs_distinct"))
    // empty frame satisfies every per-row flag — nonempty is the guard
    allTrue(StructGate.cosinePairGate(clean.filter(lit(false)), emb, 0.35),
      except = Set("nonempty"))
    // null sims must fail the vote, not be skipped by bool_and
    allTrue(StructGate.cosinePairGate(
        clean.withColumn("sim", lit(null).cast("double")), emb, 0.35),
      except = Set("sim_exact", "threshold_ok"))
  }

  test("semanticDedupGate: unexplained drop and fabricated pairs flip their flags") {
    val pairs = SimilarityOps.semanticNearDupPairs(emb, threshold = 0.35)
    val kept = DedupOps.removeNearDups(emb, pairs, "vec_id", dropCol = "vec_b")
    allTrue(StructGate.semanticDedupGate(kept, emb, pairs, 0.35))
    // drop one extra kept row: the dropped set no longer matches the
    // pairs' higher-id side — the drop has no pair to justify it
    val victim = kept.select("vec_id").as[Long].head()
    allTrue(StructGate.semanticDedupGate(
        kept.filter(col("vec_id") =!= victim), emb, pairs, 0.35),
      except = Set("drops_match_pairs"))
    // fabricated pair sim: re-derivation must catch it
    allTrue(StructGate.semanticDedupGate(kept, emb,
        pairs.withColumn("sim", col("sim") + 0.5), 0.35),
      except = Set("pairs_verified"))
    // NULL-sim pairs (the degenerate fabrication): bool_and skips null
    // verdicts, so the gate must null-harden them to FAILED
    allTrue(StructGate.semanticDedupGate(kept, emb,
        pairs.withColumn("sim", lit(null).cast("double")), 0.35),
      except = Set("pairs_verified"))
  }

  test("ingestNearDupGate: foreign survivor and unexplained reject flip flags") {
    val docs = Sources(spark, dir).documents.filter(col("doc_id") % 10 === 0)
    val existing = docs.filter(col("doc_id") % 20 === 0)
    val incoming = docs.filter(col("doc_id") % 20 =!= 0)
    val survivors = IngestOps.appendDedupNearDup(existing, incoming, 0.9)
    allTrue(StructGate.ingestNearDupGate(survivors, docs, incoming, 0.9,
      TextOps.distinctTokens _))
    // survivor not from the batch
    allTrue(StructGate.ingestNearDupGate(
        survivors.unionByName(existing.limit(1)), docs, incoming, 0.9,
        TextOps.distinctTokens _),
      except = Set("survivors_from_incoming"))
    // reject a doc nothing resembles: drop a survivor from the result —
    // it becomes "dropped" but (being a survivor) has no witness
    val victim = survivors.select("doc_id").as[Long].head()
    allTrue(StructGate.ingestNearDupGate(
        survivors.filter(col("doc_id") =!= victim), docs, incoming, 0.9,
        TextOps.distinctTokens _),
      except = Set("dropped_have_witness"))
  }

  test("ingestNearDupGate prefix pruning: rare-token witness found under a flooding hot token") {
    // every doc shares the Zipf-head token "the" ×2 (so it can never be
    // a prefix token at t=0.9 — prefixes take the RAREST n−⌈tn⌉+1);
    // the witness relationship rides the rare tail. The pruned search
    // must still find the planted witness — and still fail a reject
    // with no witness.
    val pool = Seq(
      (1L, "the w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (2L, "the z1 z2 z3 z4 z5 z6 z7 z8 z9"),
      (3L, "the y1 y2 y3 y4 y5 y6 y7 y8 y9")).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, "the w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // near-dup of 1 (j=10/11)
      (12L, "the q1 q2 q3 q4 q5 q6 q7 q8 q9")       // novel
    ).toDF("doc_id", "text")
    val survivors = IngestOps.appendDedupNearDup(pool, incoming, 0.9)
    assert(survivors.select("doc_id").as[Long].collect().toSet == Set(12L))
    allTrue(StructGate.ingestNearDupGate(survivors,
      pool.unionByName(incoming), incoming, 0.9, TextOps.distinctTokens _))
    // falsifiability under pruning: claim BOTH incoming docs were
    // dropped — doc 12 has no witness anywhere, and the pruned search
    // must say so rather than hallucinate one from the hot token
    allTrue(StructGate.ingestNearDupGate(
        survivors.limit(0), pool.unionByName(incoming), incoming, 0.9,
        TextOps.distinctTokens _),
      except = Set("survivors_nonempty", "dropped_have_witness"))
  }
}
