package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every input a workload uses comes from
  * here, so one seed gives byte-identical inputs; the totals each
  * generator accumulates while it emits rows are the oracle for the
  * scan and ingest workloads (no engine code computes them). */
object Gen {

  val HourMs: Long = 3600L * 1000
  val DayMs: Long = 24 * HourMs
  /** 2026-01-01T00:00:00Z: every generated `__time` is at or after it. */
  val Epoch: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** A string dimension: `card` values named `prefix + index`, drawn
    * with a mild skew (squared uniform) so group sizes differ. */
  final case class Dim(name: String, prefix: String, card: Int) {
    def value(i: Int): String = f"$prefix$i%05d"
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      value(math.min(card - 1, (u * u * card).toInt))
    }
  }

  /** Column layout of one generated Druid datasource. */
  final case class EventSpec(dims: Seq[Dim], tags: Int) {
    val schema: StructType = StructType(
      StructField("__time", LongType, nullable = false) +:
        dims.map(d => StructField(d.name, StringType, nullable = false)) ++:
        Seq(StructField("tags", ArrayType(StringType, containsNull = false), nullable = false),
          StructField("clicks", LongType, nullable = false),
          StructField("revenue", DoubleType, nullable = false)))
    def cardinalities: Map[String, Int] =
      dims.map(d => d.name -> d.card).toMap + ("tags" -> tags)
  }

  /** Column totals of a generated row set, accumulated row by row. */
  final class Totals(val dims: Seq[String]) {
    var rows = 0L
    var sumTime = 0L
    var minTime = Long.MaxValue
    var maxTime = Long.MinValue
    val dimLen = Array.fill(dims.size)(0L)
    val dimMin = Array.fill[String](dims.size)(null)
    val dimMax = Array.fill[String](dims.size)(null)
    val distinct = Array.fill(dims.size)(scala.collection.mutable.HashSet.empty[String])
    var tagCount = 0L
    var tagLen = 0L
    var clicks = 0L
    var revenue = 0.0

    def add(r: Row): Unit = {
      val t = r.getLong(0)
      rows += 1; sumTime += t
      minTime = math.min(minTime, t); maxTime = math.max(maxTime, t)
      dims.indices.foreach { i =>
        val v = r.getString(i + 1)
        dimLen(i) += v.length
        if (dimMin(i) == null || v < dimMin(i)) dimMin(i) = v
        if (dimMax(i) == null || v > dimMax(i)) dimMax(i) = v
        distinct(i) += v
      }
      val tags = r.getSeq[String](dims.size + 1)
      tagCount += tags.size
      tagLen += tags.map(_.length).sum
      clicks += r.getLong(dims.size + 2)
      revenue += r.getDouble(dims.size + 3)
    }
  }

  /** `rows` events spread uniformly over `[startMs, startMs + spanMs)`,
    * sorted by time. Revenue has cents precision, so sums are exact up
    * to floating-point addition order. */
  def events(spec: EventSpec, r: SplittableRandom, rows: Int,
             startMs: Long, spanMs: Long): IndexedSeq[Row] = {
    val times = Array.fill(rows)(startMs + r.nextLong(spanMs))
    java.util.Arrays.sort(times)
    times.toIndexedSeq.map { t =>
      val dims = spec.dims.map(_.draw(r))
      val nTags = 1 + r.nextInt(3)
      val tags = (0 until nTags).map(_ => f"t${r.nextInt(spec.tags)}%02d").distinct.sorted
      Row.fromSeq((t +: dims) ++ Seq(tags, r.nextLong(1000), r.nextInt(5000) / 100.0))
    }
  }

  def totals(spec: EventSpec, rows: Iterable[Row]): Totals = {
    val t = new Totals(spec.dims.map(_.name))
    rows.foreach(t.add)
    t
  }

  // ---- documents with planted near-duplicate clusters ----

  final case class Doc(id: Long, text: String, quality: Long, cluster: Int)

  /** `docs` documents of 80–140 words from a 6000-word vocabulary.
    * About a third belong to planted clusters of 2–5 members: a base
    * document plus copies with exactly one word replaced, so word
    * 3-shingle Jaccard is ≥ 0.88 inside a cluster, while unrelated
    * documents share almost no shingles. `cluster` is the planted
    * cluster index (singletons get their own). */
  def corpus(r: SplittableRandom, docs: Int): IndexedSeq[Doc] = {
    val vocab = 6000
    def word(): String = s"w${r.nextInt(vocab)}"
    val out = scala.collection.mutable.ArrayBuffer.empty[(Array[String], Int)]
    var cluster = 0
    while (out.size < docs) {
      val base = Array.fill(80 + r.nextInt(61))(word())
      val members =
        if (r.nextInt(3) == 0) math.min(2 + r.nextInt(4), docs - out.size) else 1
      out += ((base, cluster))
      (1 until members).foreach { _ =>
        val copy = base.clone()
        copy(r.nextInt(copy.length)) = word()
        out += ((copy, cluster))
      }
      cluster += 1
    }
    // shuffle so cluster members get unrelated ids
    val shuffled = out.toArray
    (shuffled.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val tmp = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = tmp
    }
    shuffled.toIndexedSeq.zipWithIndex.map { case ((words, c), i) =>
      Doc(i.toLong, words.mkString(" "), r.nextLong(100), c)
    }
  }

  /** Stable content hash of generated rows (for the determinism self-test). */
  def fingerprint(rows: Iterable[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(x => md.update(x.toString.getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
