package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** Model-based lifecycle property for the three persisted index
  * families, written once against the one maintenance API. Short
  * random op sequences — append (plain or guarded), guarded-append
  * replay, [[IndexMaintenance.deleteFromIndex]],
  * [[IndexMaintenance.compactIndex]],
  * [[IndexMaintenance.maintainIndex]] and [[IndexLayout.vacuumIndex]]
  * (keeping only the current generation set) — run against a real
  * index and a naive model: the set of live ids, plus IVF's
  * tombstoned ids and the committed appendIds. After every op the index's probes must
  * equal a fresh build on the model's live ids under the same pins
  * (BM25 and IVF rows bit-identical, MinHash the same pair set), and
  * every op the model says must refuse — an overlapping append, an IVF
  * re-append of a tombstoned id, a delete that would empty the index —
  * must throw and leave the probes unchanged. */
class IndexLifecyclePropertySpec extends SparkSpec {
  import IndexLifecyclePropertySpec._
  import spark.implicits._

  private val N = 10 // id universe 0 until N

  private val genIds: Gen[Set[Long]] =
    Gen.nonEmptyContainerOf[Set, Long](Gen.choose(0L, N - 1L)).map(_.take(3))
  private val genOp: Gen[Op] = Gen.frequency(
    4 -> Gen.zip(genIds, Gen.oneOf(false, true)).map { case (i, g) => Append(i, g) },
    2 -> Gen.const(Replay),
    3 -> genIds.map(Delete(_)),
    1 -> Gen.const(Delete((0L until N).toSet)), // empties whatever is live
    1 -> Gen.const(Compact),
    1 -> Gen.const(Maintain),
    1 -> Gen.const(Vacuum))
  private val genCase: Gen[(Set[Long], List[Op])] = for {
    init <- Gen.nonEmptyContainerOf[Set, Long](Gen.choose(0L, N - 1L))
    n <- Gen.choose(2, 4)
    ops <- Gen.listOfN(n, genOp)
  } yield (init, ops)

  // ---- corpora: four near-duplicate groups of documents, 4-d vectors

  private val bases = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank",
    "spark window functions aggregate rows over ordered partitions of data",
    "persisted indexes answer probes without touching the corpus again",
    "near duplicate detection bands minhash signatures into shared buckets")
  private def docs(ids: Set[Long]): DataFrame = ids.toSeq.sorted
    .map(i => (i, s"${bases((i % 4).toInt)} tail$i extra${i * 7}")).toDF("doc_id", "text")
  private def probeDocs = bases.indices
    .map(g => (1000L + g, s"${bases(g)} probe")).toDF("doc_id", "text")

  private val vecTable: Map[Long, Array[Float]] = {
    val rnd = new scala.util.Random(7)
    (0L until N + 7L).map(i => i -> Array.fill(4)(rnd.nextFloat() * 2 - 1)).toMap
  }
  private def vecs(ids: Iterable[Long]): DataFrame =
    ids.toSeq.sorted.map(i => (i, vecTable(i))).toDF("vec_id", "embedding")
  private lazy val queries = Similarity.prepareQueries(
    vecs(N.toLong until N + 3L), "vec_id", "embedding")
  private lazy val centroids = vecs(N + 3L until N + 7L)
    .select($"vec_id".as("c_id"), Similarity.asDouble($"embedding").as("c_v"))
  private lazy val bounds = Quantization.fitBounds(vecs(0L until N), "embedding")

  /** One index family as the property drives it. `appendable` drops
    * the ids an append never presents (IVF appends never dedup ids, so
    * the model never re-appends a LIVE vector); `refusesAppend` is the
    * model's verdict on the rest. */
  private abstract class Fam(val name: String, val idCol: String) {
    def build(ids: Set[Long], dir: String): Unit
    def append(ids: Set[Long], dir: String): Unit
    def appendGuarded(ids: Set[Long], dir: String, appendId: String): Boolean
    def probe(dir: String): Any
    def appendable(m: Model, ids: Set[Long]): Set[Long] = ids
    def refusesAppend(m: Model, ids: Set[Long]): Boolean = (ids & m.live).nonEmpty
  }

  private object Bm25 extends Fam("bm25", "doc_id") {
    def build(ids: Set[Long], dir: String): Unit =
      TextAnalysis.writeBm25Index(docs(ids), "doc_id", "text", dir)
    def append(ids: Set[Long], dir: String): Unit =
      TextAnalysis.appendToBm25Index(docs(ids), "doc_id", "text", dir)
    def appendGuarded(ids: Set[Long], dir: String, appendId: String): Boolean =
      TextAnalysis.appendToBm25IndexGuarded(docs(ids), "doc_id", "text", dir, appendId)
    def probe(dir: String): Any = TextAnalysis.scoreWithBm25Index(spark, dir,
      Seq("spark", "window", "probes", "fox", "tail3"), k = 20).collect().toSeq.map(_.toSeq)
  }

  private object Ivf extends Fam("ivf", "vec_id") {
    def build(ids: Set[Long], dir: String): Unit =
      Similarity.writeIvfIndex(vecs(ids), "vec_id", "embedding", dir, cells = 4,
        centroids0 = Some(centroids), codec = Similarity.IvfCodec.Sq8(bounds))
    def append(ids: Set[Long], dir: String): Unit =
      Similarity.appendToIvfIndex(vecs(ids), "vec_id", "embedding", dir)
    def appendGuarded(ids: Set[Long], dir: String, appendId: String): Boolean =
      Similarity.appendToIvfIndexGuarded(vecs(ids), "vec_id", "embedding", dir, appendId)
    def probe(dir: String): Any = Similarity.queryIvfIndex(spark, dir, queries,
      k = 5, nprobe = 4).orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    override def appendable(m: Model, ids: Set[Long]): Set[Long] = ids -- m.live
    override def refusesAppend(m: Model, ids: Set[Long]): Boolean =
      (ids & m.tombstoned).nonEmpty
  }

  private object MinHash extends Fam("minhash", "doc_id") {
    def build(ids: Set[Long], dir: String): Unit =
      Dedup.writeMinhashIndex(docs(ids), "doc_id", "text", dir)
    def append(ids: Set[Long], dir: String): Unit =
      Dedup.appendToMinhashIndex(docs(ids), "doc_id", "text", dir)
    def appendGuarded(ids: Set[Long], dir: String, appendId: String): Boolean =
      Dedup.appendToMinhashIndexGuarded(docs(ids), "doc_id", "text", dir, appendId)
    def probe(dir: String): Any = Dedup.probeMinhashIndex(spark, dir, probeDocs,
        "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  /** Probes of a fresh build on `live` — memoized, since most ops leave
    * the live set where it was. */
  private val fresh = scala.collection.mutable.Map.empty[(String, Set[Long]), Any]
  private def expected(f: Fam, live: Set[Long]): Any =
    fresh.getOrElseUpdate((f.name, live), {
      val d = tmp(s"lc${f.name}want")
      try { f.build(live, d); f.probe(d) } finally rm(d)
    })

  /** Ops that took effect, and refusals — the property must exercise
    * every kind, not just pass around them. */
  private val tally = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private def run(f: Fam, init: Set[Long], ops: List[Op]): Unit = {
    val dir = tmp(s"lc${f.name}")
    try {
      f.build(init, dir)
      var m = Model(init)
      for ((op, k) <- ops.zipWithIndex) {
        val where = s"${f.name}: op $k ($op) of $ops from $init, model $m"
        def refuses(body: => Any): Unit = {
          withClue(s"$where must refuse: ") { intercept[IllegalArgumentException](body) }
          tally("refused") += 1
        }
        op match {
          case Append(raw, guarded) =>
            val ids = f.appendable(m, raw)
            val appendId = s"a$k"
            def go(): Unit =
              if (guarded) assert(f.appendGuarded(ids, dir, appendId), where)
              else f.append(ids, dir)
            if (ids.isEmpty) ()
            else if (f.refusesAppend(m, ids)) refuses(go())
            else {
              go()
              tally("appended") += 1
              m = m.copy(live = m.live ++ ids,
                committed = if (guarded) (appendId, ids) :: m.committed else m.committed)
            }
          case Replay =>
            for ((appendId, ids) <- m.committed.headOption) {
              assert(!f.appendGuarded(ids, dir, appendId), s"$where: replay must be a no-op")
              tally("replayed") += 1
            }
          case Delete(ids) =>
            def go(): Unit = IndexMaintenance.deleteFromIndex(
              ids.toSeq.toDF(f.idCol), f.idCol, dir)
            val hit = ids & m.live
            if (hit.nonEmpty && hit == m.live) refuses(go())
            else {
              go()
              tally("deleted") += 1
              m = m.copy(live = m.live -- ids, tombstoned = m.tombstoned ++ hit)
            }
          case Compact =>
            IndexMaintenance.compactIndex(spark, dir)
            tally("compacted") += 1
            m = m.copy(tombstoned = Set.empty)
          case Maintain =>
            if (IndexMaintenance.maintainIndex(spark, dir).compacted.nonEmpty)
              m = m.copy(tombstoned = Set.empty)
            tally("maintained") += 1
          case Vacuum =>
            IndexLayout.vacuumIndex(spark, dir, keepVersions = 1)
            tally("vacuumed") += 1
        }
        assert(f.probe(dir) == expected(f, m.live), s"$where: probes diverge from a fresh build")
      }
    } finally rm(dir)
  }

  test("lifecycle property: every family's probes equal a fresh build on the model's live ids after every op") {
    val params = ScTest.Parameters.default
      .withMinSuccessfulTests(4)
      // a seed whose 4 cases run every op kind and every refusal
      // (a vacuum right after a delete + re-append among them)
      .withInitialSeed(org.scalacheck.rng.Seed(38))
    val res = ScTest.check(params, Prop.forAllNoShrink(genCase) { case (init, ops) =>
      for (f <- Seq(Bm25, Ivf, MinHash)) run(f, init, ops)
      true
    })
    assert(res.passed, res.status.toString)
    info(tally.toSeq.sorted.mkString(", "))
    for (k <- Seq("appended", "replayed", "deleted", "compacted", "maintained", "vacuumed",
                  "refused"))
      assert(tally(k) > 0, s"the property never $k: $tally")
  }
}

object IndexLifecyclePropertySpec {
  sealed trait Op
  final case class Append(ids: Set[Long], guarded: Boolean) extends Op
  case object Replay extends Op
  final case class Delete(ids: Set[Long]) extends Op
  case object Compact extends Op
  case object Maintain extends Op
  case object Vacuum extends Op

  /** `tombstoned`: ids deleted since the last compaction (an IVF
    * re-append of one refuses); `committed`: guarded appendIds, newest
    * first, with the ids each carried. */
  final case class Model(live: Set[Long], tombstoned: Set[Long] = Set.empty,
                         committed: List[(String, Set[Long])] = Nil)
}
