package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.CheckpointDirReset
import org.apache.spark.sql.functions._

/** The reliable-checkpoint path every real cluster takes
  * (`setCheckpointDir` configured): [[Materialize]] then runs
  * `Dataset.checkpoint`, whose checkpoint-write job recomputes the
  * plan — so anything riding the materialization as Observation
  * metrics must still come out exact. */
class ReliableCheckpointSpec extends SparkSpec {

  private lazy val s2 = spark
  import s2.implicits._

  /** Runs `body` with a checkpoint dir set; also returns how many
    * files the body left under it. */
  private def withCheckpointDir[T](body: => T): (T, Int) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toFile
    spark.sparkContext.setCheckpointDir(dir.getPath)
    try {
      val out = body
      (out, org.apache.commons.io.FileUtils.listFiles(dir, null, true).size)
    } finally {
      CheckpointDirReset(spark.sparkContext)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("Materialize.withCount returns the exact count on the reliable path") {
    val df = spark.range(0, 1000, 1, 4).toDF("id").filter(col("id") % 3 === 0)
    val ((n, rows), files) = withCheckpointDir {
      val (m, n) = Materialize.withCount(df)
      (n, m.count())
    }
    assert(files > 0, "the reliable path writes checkpoint files")
    assert(n == 334L && rows == 334L)
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "bridge resets the dir")
  }

  test("Dedup clusters and canonical picks equal the localCheckpoint path's") {
    val docs = Tables.documents(spark, sf()).withColumn("score", length(col("text")))
    def run() = (
      Dedup.clusters(docs, "doc_id", "text", threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      Dedup.canonicalPerCluster(docs, "doc_id", "text", "score", threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet)
    val local = run()
    assert(local._1.exists { case (id, c) => id != c }, "corpus has planted near-dups")
    val (reliable, files) = withCheckpointDir(run())
    assert(files > 0 && reliable == local)
  }

  test("distributed star rounds converge to the same labels on the reliable path") {
    // a path graph needs several star rounds; a convergence fingerprint
    // that only compared edge counts would stop while labels still move
    val df = (1L to 12L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((11L, 12L), (9L, 10L), (8L, 9L), (5L, 6L), (4L, 6L), (4L, 5L),
      (2L, 7L), (1L, 7L), (3L, 8L)).toDF("a_id", "b_id")
    def run() = Dedup.clustersFromPairs(df, "doc_id", pairs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = run()
    assert(local(10L) == 3L && local(12L) == 11L)
    val (reliable, files) = withCheckpointDir(run())
    assert(files > 0 && reliable == local)
  }
}
