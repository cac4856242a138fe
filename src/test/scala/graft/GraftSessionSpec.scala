package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The tests run on the bench's session, and nothing builds another. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries GraftSession's settings") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
  }

  test("no source file outside GraftSession builds its own SparkSession") {
    val roots = Seq(new File("src/main"), new File("src/test"))
    roots.foreach(r => assert(r.isDirectory, s"run from the repository root: ${r.getAbsolutePath}"))
    val banned = "SparkSession\\s*\\.\\s*builder".r
    def files(d: File): Seq[File] =
      d.listFiles().toSeq.sortBy(_.getName).flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- roots.flatMap(files)
      if f.getName.endsWith(".scala") && f.getName != "GraftSession.scala"
      (line, i) <- Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use graft.GraftSession.local(cpus):\n" + hits.mkString("\n"))
  }
}
