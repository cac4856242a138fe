package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** Pins the candidate-pair broadcast guard: Catalyst's static size
  * estimate for the materialized pair table is the pre-explode guess,
  * so a crowded bucket space (here: a mass of identical signatures /
  * vectors → ~500k REAL pairs) would be planned into a broadcast build
  * side and OOM at scale — observed live at 200k correlated vectors
  * (94M candidate pairs estimated "tiny"). Above the budget the pair
  * table must never sit under a BroadcastExchange; the verify joins
  * instead broadcast the per-id payload side when ITS real count fits
  * the budget, and fall back to shuffle joins when it doesn't. The
  * guard must not cost recall (the pair set stays exact in all three
  * shapes).
  */
class DedupBroadcastGuardSpec extends SparkSpec {
  import spark.implicits._

  private val nMass = 1000 // C(1000,2) = 499,500 pairs > BroadcastSafeRows

  /** The candidate table scans a checkpointed RDD — assert no such
    * scan is ever a broadcast build side. */
  private def candidatesNeverBroadcast(plan: SparkPlan): Unit = {
    val offenders = plan.collect {
      case b: BroadcastExchangeExec if b.collectFirst { case r: RDDScanExec => r }.nonEmpty => b
    }
    assert(offenders.isEmpty, s"checkpointed pair table under a broadcast:\n$plan")
  }

  test("hammingPairs: over-budget pairs shuffle; the 16-byte payload broadcasts") {
    val docs = (0 until nMass).map(i => (i.toLong, Some(0L))).toDF("id", "sh")
    val pairs = Dedup.hammingPairs(docs, "id", "sh")
    val plan = pairs.queryExecution.executedPlan
    candidatesNeverBroadcast(plan)
    // payload (1000 rows of id+sh) fits the verify budget -> broadcast
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
    assert(pairs.count() == nMass.toLong * (nMass - 1) / 2)
  }

  test("hammingPairs: over-budget pairs AND over-budget payload -> pure shuffle joins") {
    val docs = (0 until nMass).map(i => (i.toLong, Some(0L))).toDF("id", "sh")
    // hammingPairs' pairing stage with a 10-row payload broadcast budget
    val pairs = Dedup.signaturePairs(docs, maxHamming = 3, numChunks = 6,
      maxBucketSize = 10000, payloadRows = 10L, jobs = "dedup.hamming")
    val plan = pairs.queryExecution.executedPlan
    candidatesNeverBroadcast(plan)
    assert(!plan.toString.contains("BroadcastHashJoin"), plan.toString)
    assert(plan.toString.contains("SortMergeJoin"), plan.toString)
    assert(pairs.count() == nMass.toLong * (nMass - 1) / 2)
  }

  test("embeddingPairs: over-budget candidates never broadcast; vector side does") {
    val vec = Seq.fill(8)(0.5f)
    val vecs = (0 until nMass).map(i => (i.toLong, vec)).toDF("id", "v")
    val pairs = Dedup.embeddingPairs(vecs, "id", "v", minCosine = 0.9)
    val plan = pairs.queryExecution.executedPlan
    candidatesNeverBroadcast(plan)
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
    assert(pairs.count() == nMass.toLong * (nMass - 1) / 2)
  }

  test("under-budget candidate sets keep their unguarded (broadcastable) plans") {
    val docs = (0 until 8).map(i => (i.toLong, Some(0L))).toDF("id", "sh")
    val pairs = Dedup.hammingPairs(docs, "id", "sh")
    // 28 pairs — far under budget: no merge hint, so the tiny pair
    // table may broadcast (the fast small-corpus shape)
    assert(pairs.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(pairs.count() == 28)
  }
}
