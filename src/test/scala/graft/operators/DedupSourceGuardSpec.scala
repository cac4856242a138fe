package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Dedup keeps one pair join and one place that sizes a candidate id
  * set: the MinHash verify's over-budget branch. A copy of either fails
  * here instead of drifting from the one every path shares. */
class DedupSourceGuardSpec extends AnyFunSuite {

  private lazy val source: String = {
    val f = new File("src/main/scala/graft/operators/Dedup.scala")
    assert(f.isFile, s"run from the repository root: ${f.getAbsolutePath}")
    Files.readString(f.toPath, UTF_8)
  }

  test("Dedup.scala has one pair-join site") {
    val sites = "noStaticBroadcast\\(noStaticBroadcast\\(".r.findAllMatchIn(source).size
    assert(sites == 1, s"$sites nested noStaticBroadcast joins: call pairJoin instead")
  }

  test("sizedIdSet is called only in the MinHash verify's over-budget branch") {
    val verify = source.indexOf("private def minhashVerify(")
    assert(verify >= 0, "minhashVerify is the one MinHash verify")
    val branch = source.indexOf("if (cands.count > budget) {", verify)
    val branchEnd = source.indexOf("} else", branch)
    assert(branch >= 0 && branchEnd > branch, "the over-budget branch opens the verify")
    val calls = "(?<!def )sizedIdSet\\(".r.findAllMatchIn(source).map(_.start).toSeq
    val outside = calls.filterNot(i => i > branch && i < branchEnd)
    val lines = outside.map(i => source.substring(0, i).count(_ == '\n') + 1)
    assert(calls.nonEmpty && outside.isEmpty,
      s"sizedIdSet called outside the over-budget branch at lines ${lines.mkString(", ")}")
  }
}
