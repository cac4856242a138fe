package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** The MinHash small path's driver verify against the distributed
  * verify, and the shared shingle / Jaccard kernels against the
  * expressions, on fixed-seed generated corpora: multi-byte UTF-8
  * words (a 4-byte one among them), empty tokens from double spaces,
  * repeated shingles, docs shorter than `shingleN` words, empty and
  * NULL text, a duplicated id, and a pair at exactly Jaccard 0.8. */
class DedupDriverVerifySpec extends SparkSpec {
  private lazy val s2 = spark
  import s2.implicits._

  private def check(p: Prop): Unit = {
    val params = ScTest.Parameters.default
      .withMinSuccessfulTests(6)
      .withInitialSeed(org.scalacheck.rng.Seed(0xD71FL))
    val res = ScTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private val word = Gen.oneOf("a", "b", "c", "dé", "日本", "𝄞x", "", "long", "word")
  private val doc = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, word))

  /** A base doc and a few copies: identical, one word changed, one word
    * appended, or a stretch repeated. */
  private val family: Gen[List[List[String]]] = for {
    base <- doc
    k <- Gen.choose(0, 3)
    copies <- Gen.listOfN(k, for {
      w <- word
      i <- Gen.choose(0, math.max(base.size - 1, 0))
      how <- Gen.choose(0, 3)
    } yield how match {
      case 0 => base
      case 1 if base.nonEmpty => base.updated(i, w)
      case 2 => base :+ w
      case _ => base ++ base.take(i + 1)
    })
  } yield base :: copies

  /** 11 words: the copy shares 8 of 10 distinct 3-shingles. */
  private val edge = (0 until 11).map(i => s"edge$i").mkString(" ")

  private def corpus(families: List[List[List[String]]]): DataFrame = {
    val texts = families.flatten.map(_.mkString(" "))
    val fixed = Seq[(Long, String)](
      (900001L, edge), (900002L, edge.replace("edge10", "other10")),
      (900003L, ""), (900004L, ""), (900005L, "two words"), (900006L, "two words"),
      (900007L, null), (900001L, null), (900008L, edge.replace("edge0", "zero")),
      (900008L, edge))
    (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ fixed).toDF("id", "text")
  }

  private val corpora = Gen.zip(Gen.choose(4, 8).flatMap(n => Gen.listOfN(n, family)),
    Gen.oneOf(0.0, 0.5, 0.8))

  private def rows(d: DataFrame): Seq[(Long, Long, Double)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("the driver verify equals both distributed verifies") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    check(Prop.forAll(corpora) { case (families, t) =>
      val df = corpus(families)
      def pairs(budget: Long) =
        Dedup.minhashPairsCounted(df, "id", "text", threshold = t, budget = budget).frame
      val local = pairs(Dedup.RepartitionVerifyRows)
      val onDriver = local.queryExecution.executedPlan
        .collect { case s: LocalTableScanExec => s }.nonEmpty
      val prev = spark.conf.get(key)
      val inSpark = try {
        spark.conf.set(key, "-1")
        rows(pairs(Dedup.RepartitionVerifyRows))
      } finally spark.conf.set(key, prev)
      val want = rows(local)
      onDriver && want == inSpark && want == rows(pairs(-1L)) &&
        (t > 0.8 || want.contains((900001L, 900002L, 0.8)))
    })
  }

  test("the shared shingle and Jaccard kernels give the expressions' values") {
    check(Prop.forAll(corpora) { case (families, _) =>
      val df = corpus(families)
      val docs = df.select(col("id"), col("text"),
        TextFunctions.wordShingles(col("text"), 3).as("sh")).collect()
      val sameShingles = docs.forall { r =>
        val want = if (r.isNullAt(1)) null else TextFunctions.shingleSet(r.getString(1), 3)
        if (want == null) r.isNullAt(2)
        else r.getSeq[String](2) == scala.jdk.CollectionConverters.SetHasAsScala(want).asScala.toSeq
      }
      val byExpr = df.as("a").crossJoin(df.as("b"))
        .select(col("a.text"), col("b.text"), TextFunctions.setJaccard(
          TextFunctions.wordShingles(col("a.text"), 3),
          TextFunctions.wordShingles(col("b.text"), 3)))
        .collect()
      val sameJaccard = byExpr.forall { r =>
        val want =
          if (r.isNullAt(0) || r.isNullAt(1)) null
          else TextFunctions.jaccard(TextFunctions.shingleSet(r.getString(0), 3),
            TextFunctions.shingleSet(r.getString(1), 3))
        if (want == null) r.isNullAt(2) else !r.isNullAt(2) && r.getDouble(2) == want.doubleValue
      }
      sameShingles && sameJaccard
    })
  }
}
