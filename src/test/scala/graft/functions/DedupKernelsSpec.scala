package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** The fused MinHash-dedup kernels against the composed Spark
  * expressions they replace, on fixed-seed generated inputs:
  * [[SetJaccard]] vs `size(array_intersect)/size(array_union)`, and
  * [[TextFunctions.runPairs]] (in-list pairs) and [[IdPairs]] (cross
  * pairs) vs the `explode(flatten(transform(…)))` pair lambdas. */
class DedupKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** Each property case is one batch of rows, checked in one query. */
  private def check(p: Prop): Unit = {
    val params = ScTest.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(0x5E7AL))
    val res = ScTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  /** Small alphabets so repeats within and overlaps across sides are common. */
  private def arrays[T](elem: Gen[T]): Gen[(Seq[T], Seq[T])] = for {
    n <- Gen.choose(0, 12)
    m <- Gen.choose(0, 12)
    a <- Gen.listOfN(n, elem)
    b <- Gen.listOfN(m, elem)
  } yield (a, b)

  private def sameJaccard(df: DataFrame): Boolean = {
    val got = df
      .select(
        TextFunctions.setJaccard(col("a"), col("b")).as("fused"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b")))).as("composed"))
      .collect()
    got.forall(r => r.getDouble(0) == r.getDouble(1))
  }

  private def nonEmptyUnion[T](cases: List[(Seq[T], Seq[T])]) =
    cases.filter { case (a, b) => a.nonEmpty || b.nonEmpty }

  test("set Jaccard kernel equals size(array_intersect)/size(array_union) on string arrays") {
    val word = Gen.oneOf("a b c", "b c d", "c d e", "x", "", "é ü", "a")
    check(Prop.forAll(Gen.listOfN(40, arrays(word))) { cases =>
      sameJaccard(nonEmptyUnion(cases).toDF("a", "b"))
    })
  }

  test("set Jaccard kernel equals size(array_intersect)/size(array_union) on long arrays") {
    val id = Gen.oneOf(Gen.choose(-4L, 9L), Gen.oneOf(Long.MinValue, Long.MaxValue))
    check(Prop.forAll(Gen.listOfN(40, arrays(id))) { cases =>
      sameJaccard(nonEmptyUnion(cases).toDF("a", "b"))
    })
  }

  test("set Jaccard kernel: two empty sets are NULL, a NULL input is NULL") {
    val rows = Seq[(Seq[String], Seq[String])]((Nil, Nil), (Seq("a"), null), (Seq("a", "a"), Seq("a")))
      .toDF("a", "b")
      .select(TextFunctions.setJaccard(col("a"), col("b")))
      .collect().map(r => Option(r.get(0)))
    assert(rows.toSeq == Seq(None, None, Some(1.0)))
  }

  test("pair kernel emits the old lambdas' rows: in-list i<j pairs and cross pairs") {
    val ids = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 6L)))
      .map(l => Option(l.sorted))
    val maybeIds = Gen.frequency(8 -> ids, 1 -> Gen.const(None))
    def counts(pairs: Seq[(Long, Long)]): Map[(Long, Long), Int] =
      pairs.groupBy(identity).map { case (k, v) => k -> v.size }
    def rows(df: DataFrame): Map[(Long, Long), Int] =
      counts(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
    check(Prop.forAll(Gen.listOfN(30, Gen.zip(maybeIds, maybeIds))) { cases =>
      val df = cases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("k", "a", "b")
      val selfOld = df.select(explode(expr(
        """flatten(transform(a, (x, i) ->
          |  transform(slice(a, i + 2, size(a) - i - 1),
          |            y -> struct(x AS a_id, y AS b_id))))""".stripMargin)).as("p"))
        .select("p.a_id", "p.b_id")
      val crossOld = df.select(explode(expr(
        """flatten(transform(a, x ->
          |  transform(b, y -> struct(x AS a_id, y AS b_id))))""".stripMargin)).as("p"))
        .select("p.a_id", "p.b_id")
      // in-list pairs come from one sorted run per bucket (runPairs)
      val selfNew = cases.flatMap(_._1).flatMap(l => TextFunctions.runPairs(l.toIndexedSeq))
      counts(selfNew) == rows(selfOld) &&
        rows(df.select(TextFunctions.idPairs(col("a"), col("b")))) == rows(crossOld)
    })
  }

  test("pair kernel names its columns a_id, b_id and keeps string ids") {
    val bands = Seq("p", "q", "r").map((_, 1L)).toDF("id", "bucket")
    val out = graft.operators.Dedup.pairsForTest(bands, 10)
    assert(out.columns.toSeq == Seq("a_id", "b_id"))
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted ==
      Seq(("p", "q"), ("p", "r"), ("q", "r")))
    val cross = Seq((Seq("p"), Seq("q", "r"))).toDF("a", "b")
      .select(TextFunctions.idPairs(col("a"), col("b")))
    assert(cross.columns.toSeq == Seq("a_id", "b_id"))
    assert(cross.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("p", "q"), ("p", "r")))
  }
}
