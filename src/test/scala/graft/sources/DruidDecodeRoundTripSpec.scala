package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean
import graft.SparkSpec
import DruidSegmentWriter._

/** Round trip of the typed segment decoder against the writer's own
  * input: random datasources from [[DruidSegmentWriter.write]] (every
  * column kind, random chunk sizes, one union column missing from one
  * segment), read back through the DataSource V2 connector (time
  * window with and without a dictionary predicate, limit, `__time`
  * top-n); the rows must equal the same filter applied to the input in
  * Scala. */
class DruidDecodeRoundTripSpec extends SparkSpec {

  private val Hour = 3600 * 1000L
  private val Base = java.time.Instant.parse("2023-03-01T00:00:00Z").toEpochMilli
  private val Countries = Seq("", "at", "br", "ca", "dé")
  private val Tags = Seq("t0", "t1", "t2", "ü")
  private val Extras = Seq("x", "y")
  private val Columns = Seq("__time", "country", "tags", "clicks", "ratio", "revenue", "sketch", "extra")

  /** One segment's input rows, column name → value (multi-value dims
    * and sketch bytes as lists, so rows compare by value). */
  private final case class Seg(hour: Int, rows: Seq[Map[String, Any]], hasExtra: Boolean, sizePer: Int)

  private def genSeg(hour: Int, hasExtra: Boolean): Gen[Seg] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      t <- Gen.choose(0L, Hour - 1)
      country <- Gen.oneOf(Countries)
      tags <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(Tags)))
      clicks <- Gen.choose(Long.MinValue, Long.MaxValue)
      ratio <- Gen.choose(-1e6f, 1e6f)
      revenue <- Gen.choose(-1e12, 1e12)
      sketch <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.choose(Byte.MinValue, Byte.MaxValue)))
      extra <- Gen.oneOf(Extras)
    } yield Map[String, Any]("__time" -> (Base + hour * Hour + t), "country" -> country,
      "tags" -> tags, "clicks" -> clicks, "ratio" -> ratio, "revenue" -> revenue,
      "sketch" -> sketch, "extra" -> (if (hasExtra) extra else null)))
    sizePer <- Gen.choose(1, 7)
  } yield Seg(hour, rows, hasExtra, sizePer)

  private val genSegs: Gen[Seq[Seg]] = for {
    k <- Gen.choose(2, 3)
    missing <- Gen.choose(0, k - 1)
    segs <- Gen.sequence[Seq[Seg], Seg]((0 until k).map(h => genSeg(h, hasExtra = h != missing)))
  } yield segs

  /** A read: `[lo, hi)` window, a dictionary predicate (column, values;
    * one value is `===`, more are `isin`), a projection in random
    * order, a limit and a `__time` top-n. */
  private final case class Query(lo: Long, hi: Long, predCol: String, predVals: Seq[String],
                                 projection: Seq[String], limit: Int, topN: Int, desc: Boolean)

  private def genQuery(segments: Int): Gen[Query] = for {
    lo <- Gen.choose(Base - Hour / 2, Base + segments * Hour)
    hi <- Gen.choose(lo, Base + segments * Hour + Hour / 2)
    predCol <- Gen.oneOf("country", "extra")
    predVals <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(Countries ++ Extras :+ "zz")))
    picked <- Gen.someOf(Columns)
    projection <- Gen.pick(picked.size, picked).map(_.toSeq)
    limit <- Gen.choose(0, 12)
    topN <- Gen.choose(1, 12)
    desc <- Gen.oneOf(true, false)
  } yield Query(lo, hi, predCol, predVals.distinct,
    if (projection.isEmpty) Seq("clicks") else projection, limit, topN, desc)

  private def write(segs: Seq[Seg]): File = {
    val root = Files.createTempDirectory("graft-roundtrip").toFile
    segs.foreach { s =>
      def col[T](name: String): Seq[T] = s.rows.map(_(name).asInstanceOf[T])
      val start = Base + s.hour * Hour
      DruidSegmentWriter.write(new File(root, s"seg${s.hour}"), "roundtrip", col[Long]("__time"),
        Seq(StrDim("country", col[String]("country")), MvDim("tags", col[List[String]]("tags"))) ++
          (if (s.hasExtra) Seq(StrDim("extra", col[String]("extra"))) else Nil) ++
          Seq(LongMet("clicks", col[Long]("clicks")), FloatMet("ratio", col[Float]("ratio")),
            DoubleMet("revenue", col[Double]("revenue")),
            ComplexMet("sketch", "opaque", col[List[Byte]]("sketch").map(_.toArray))),
        start, start + Hour, sizePer = s.sizePer)
    }
    root
  }

  private def normalize(v: Any): Any = v match {
    case b: Array[Byte] => b.toList
    case s: scala.collection.Seq[_] => s.toList
    case other => other
  }

  private def rowsOf(df: DataFrame, names: Seq[String]): Seq[List[Any]] =
    df.collect().toSeq.map((r: Row) => names.map(n => normalize(r.get(r.fieldIndex(n)))).toList)

  private def sameRows(got: Seq[List[Any]], want: Seq[List[Any]]): Boolean =
    got.map(_.toString).sorted == want.map(_.toString).sorted

  private def within(got: Seq[List[Any]], want: Seq[List[Any]]): Boolean = {
    val pool = scala.collection.mutable.Map.empty[String, Int]
    want.foreach(r => pool(r.toString) = pool.getOrElse(r.toString, 0) + 1)
    got.forall { r =>
      val left = pool.getOrElse(r.toString, 0)
      pool(r.toString) = left - 1
      left > 0
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("typed decode round-trips the writer's input through DSv2") {
    val gen = for {
      segs <- genSegs
      q <- genQuery(segs.size)
    } yield (segs, q)
    // no shrinking: a shrunk input would break the generator's
    // invariants (non-empty segments and predicates)
    val prop = Prop.forAllNoShrink(gen) { case (segs, q) =>
      val root = write(segs)
      try {
        val input = segs.flatMap(_.rows)
        val inWindow = input.filter { r =>
          val t = r("__time").asInstanceOf[Long]; t >= q.lo && t < q.hi
        }
        def project(rows: Seq[Map[String, Any]], names: Seq[String]) = rows.map(r => names.map(r).toList)
        val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
        val window = col("__time") >= q.lo && col("__time") < q.hi
        val pred =
          if (q.predVals.size == 1) col(q.predCol) === q.predVals.head
          else col(q.predCol).isin(q.predVals: _*)

        // window + dictionary predicate, random projection
        val filtered = rowsOf(df.where(window && pred).select(q.projection.map(col): _*), q.projection)
        val wantFiltered = project(inWindow.filter(r => q.predVals.contains(r(q.predCol))), q.projection)

        // partial limit: any `limit` rows of the window
        val limited = rowsOf(df.where(window).select(q.projection.map(col): _*).limit(q.limit),
          q.projection)
        val wantWindow = project(inWindow, q.projection)

        // `__time` top-n: the n best times, each row one of the window's
        val order = if (q.desc) col("__time").desc else col("__time").asc
        val top = rowsOf(df.where(window).orderBy(order).limit(q.topN), Columns)
        val bestTimes = inWindow.map(_("__time").asInstanceOf[Long]).sorted
        val wantTimes = (if (q.desc) bestTimes.reverse else bestTimes).take(q.topN)

        // the window alone: timeline resolution clips each segment to
        // it at planning; the projection with `__time` first
        val windowedNames = ("__time" +: q.projection).distinct
        val clipped = df.where(window).select(windowedNames.map(col): _*)
        val windowed = rowsOf(clipped, windowedNames)

        // every read ran above; the Prop only compares (its conjuncts
        // are lazy, and the segments are deleted on return)
        val checks = Seq(
          sameRows(filtered, wantFiltered) -> s"filtered: $filtered vs $wantFiltered",
          (limited.size == math.min(q.limit, wantWindow.size) && within(limited, wantWindow)) ->
            s"limit ${q.limit}: $limited",
          (top.map(_.head) == wantTimes && within(top, project(inWindow, Columns))) ->
            s"top ${q.topN}: $top vs times $wantTimes",
          (clipped.columns.toSeq == windowedNames &&
            sameRows(windowed, project(inWindow, windowedNames))) ->
            s"window ${clipped.columns.toSeq}: $windowed")
        Prop.all(checks.map { case (ok, label) => ok :| label }: _*)
      } finally deleteTree(root)
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(20)
      .withInitialSeed(org.scalacheck.rng.Seed(0xD201D)), prop)
    assert(res.passed, res.status.toString)
  }
}
