package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

class BoundedCollectSpec extends SparkSpec {
  import spark.implicits._

  test("bounded_long_list: under-cap groups collect sorted, over-cap groups are NULL") {
    val df = Seq.tabulate(40)(i => (if (i < 30) "big" else "small", i.toLong))
      .toDF("g", "v")
      .repartition(4) // force partial buffers + merges
    val out = df.groupBy("g")
      .agg(BoundedCollect.bounded_long_list(col("v"), 10).as("ids"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Long](1))).toMap
    assert(out("big").isEmpty, "31-value group over cap=10 must be NULL")
    assert(out("small").contains((30L until 40L).toSeq), "under-cap group sorted ascending")
  }

  test("bounded_long_list: saturation survives merges of saturated partials") {
    // every partition alone exceeds the cap — each partial saturates
    // before the merge, and the merged result must stay NULL
    val df = spark.range(0, 1000).select(lit("g").as("g"), col("id").as("v"))
      .repartition(8)
    val out = df.groupBy("g")
      .agg(BoundedCollect.bounded_long_list(col("v"), 5).as("ids"))
      .collect()
    assert(out.length == 1 && out(0).isNullAt(1))
  }

  test("bounded_long_list: cap boundary is inclusive and nulls are ignored") {
    val df = Seq[(String, java.lang.Long)](
      ("g", 3L), ("g", 1L), ("g", 2L), ("g", null)).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(BoundedCollect.bounded_long_list(col("v"), 3).as("ids"))
      .collect()
    assert(out(0).getSeq[Long](1) == Seq(1L, 2L, 3L), "exactly-cap group kept")
  }

  test("bucketPairs via bounded list emits identical pairs to the collect_list path") {
    // same band stream through both id types: long ids (bounded path)
    // vs string ids (legacy collect_list path) must yield the same pair
    // set under the same cap
    val bands = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L),            // bucket 100 → 3 pairs
      (4L, 200L), (5L, 200L),                        // bucket 200 → 1 pair
      (1L, 300L), (2L, 300L),                        // duplicate pair (1,2)
      (6L, 400L), (7L, 400L), (8L, 400L), (9L, 400L) // over cap=3 → dropped
    ).toDF("id", "bucket")
    val longPairs = graft.operators.Dedup.pairsForTest(bands, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stringBands = bands.select(col("id").cast("string").as("id"), col("bucket"))
    val stringPairs = graft.operators.Dedup.pairsForTest(stringBands, 3)
      .collect().map(r => (r.getString(0).toLong, r.getString(1).toLong)).toSet
    assert(longPairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    assert(stringPairs == longPairs)
  }

  test("pairsForTest: long and string ids give equal pairs, at and around the cap") {
    val cap = 4
    // buckets of cap-1, cap and cap+1 ids (repeats and nulls included),
    // ids 0..12 so that string order ("10" < "9") differs from long order
    val bucket = for {
      n <- Gen.choose(cap - 1, cap + 1)
      ids <- Gen.listOfN(n, Gen.frequency(6 -> Gen.choose(0L, 12L).map(Option(_)), 1 -> Gen.const(None)))
    } yield ids
    val params = ScTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(org.scalacheck.rng.Seed(0xB0CAL))
    val res = ScTest.check(params, Prop.forAll(Gen.listOfN(6, bucket)) { buckets =>
      val rows = buckets.zipWithIndex.flatMap { case (ids, b) => ids.map(i => (i, b.toLong)) }
      val bands = rows.map { case (i, b) => (i.map(java.lang.Long.valueOf).orNull, b) }
        .toDF("id", "bucket")
      val model = buckets.map(_.flatten).filter(l => l.size >= 2 && l.size <= cap)
        .flatMap(l => TextFunctions.runPairs(l.sorted.toIndexedSeq)).toSet
      val longPairs = Dedup.pairsForTest(bands, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val stringPairs = Dedup.pairsForTest(
          bands.select(col("id").cast("string").as("id"), col("bucket")), cap)
        .collect().map { r =>
          val (a, b) = (r.getString(0).toLong, r.getString(1).toLong)
          (math.min(a, b), math.max(a, b))
        }.toSet
      longPairs == model && stringPairs == model
    })
    assert(res.passed, res.status.toString)
  }

  test("a planted hot bucket is counted when the run grouping drops it") {
    // 5 identical docs share all 32 MinHash band buckets: over a cap of
    // 3 every one of them is dropped; the two other docs share nothing
    val text = "the same words in the same order every time"
    val docs = (Seq.tabulate(5)(i => (i.toLong, text)) ++
      Seq((10L, "one unrelated document of its own"), (11L, "and another unrelated text")))
      .toDF("id", "text")
    val bands = docs.select(col("id"),
      explode(TextFunctions.minhashBands(col("text"), 3, 64, 2)).as("bucket"))
    assert(Dedup.hotBucketsForTest(bands, 3) == 32)
    assert(Dedup.pairsForTest(bands, 3).count() == 0, "the hot buckets' pairs are dropped")
    assert(Dedup.hotBucketsForTest(bands, 5) == 0, "at the cap nothing is dropped")
  }
}
