package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** The build-once gate-fixture protocol: served only when sealed,
  * rebuilt after a failed or crashed build, one winner under a race —
  * and no query file hand-rolls its own protocol. */
class GateFixtureSpec extends AnyFunSuite {

  private val sfDir = "/data/sf0.01"
  private val tmp = new File(sys.props("java.io.tmpdir"))

  /** A fresh fixture name; `body` gets it and everything under
    * java.io.tmpdir carrying it is removed afterwards. */
  private def withName(body: String => Unit): Unit = {
    val name = s"graft_gatefixture_spec_${java.util.UUID.randomUUID.toString.take(8)}"
    try body(name)
    finally tmp.listFiles().filter(_.getName.startsWith(name)).foreach(FileUtils.deleteQuietly)
  }

  private def rootOf(name: String) = new File(tmp, s"${name}__data_sf0.01")
  private def write(dir: File, text: String): Unit = {
    dir.mkdirs()
    Files.writeString(new File(dir, "data").toPath, text, UTF_8)
  }
  private def read(dir: File): String = Files.readString(new File(dir, "data").toPath, UTF_8)
  private def leftovers(name: String): Seq[String] =
    tmp.listFiles().map(_.getName).filter(n => n.startsWith(name) && n != rootOf(name).getName).toSeq

  test("a complete fixture is returned without calling build") {
    withName { name =>
      val root = GateFixture.buildOnce(name, sfDir)(write(_, "v1"))
      assert(root == rootOf(name) && new File(root, "_COMPLETE").isFile)
      var calls = 0
      val again = GateFixture.buildOnce(name, sfDir) { d => calls += 1; write(d, "v2") }
      assert(again == root && calls == 0 && read(root) == "v1")
    }
  }

  test("a build that throws leaves nothing servable, and the next call rebuilds") {
    withName { name =>
      val e = intercept[IllegalStateException] {
        GateFixture.buildOnce(name, sfDir) { d =>
          write(d, "partial")
          throw new IllegalStateException("build died")
        }
      }
      assert(e.getMessage == "build died")
      assert(!rootOf(name).exists() && leftovers(name).isEmpty)
      val root = GateFixture.buildOnce(name, sfDir)(write(_, "v2"))
      assert(read(root) == "v2" && new File(root, "_COMPLETE").isFile)
    }
  }

  test("a root left without _COMPLETE (a crashed build) is rebuilt, not served") {
    withName { name =>
      write(rootOf(name), "crashed")
      var calls = 0
      val root = GateFixture.buildOnce(name, sfDir) { d => calls += 1; write(d, "fresh") }
      assert(root == rootOf(name) && calls == 1)
      assert(read(root) == "fresh" && new File(root, "_COMPLETE").isFile)
      assert(leftovers(name).isEmpty, s"staging or stale dirs left: ${leftovers(name)}")
    }
  }

  test("two builders racing on one key return the same complete dir") {
    withName { name =>
      val inBuild = new CountDownLatch(2)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val futs = (1 to 2).map { _ =>
          pool.submit(() => GateFixture.buildOnce(name, sfDir) { d =>
            write(d, "same")
            inBuild.countDown()
            assert(inBuild.await(30, TimeUnit.SECONDS), "both builders must be inside build")
          })
        }
        val roots = futs.map(_.get(60, TimeUnit.SECONDS))
        assert(roots.distinct == Seq(rootOf(name)))
        assert(read(roots.head) == "same")
        assert(roots.head.list().toSet == Set("data", "_COMPLETE"))
        assert(leftovers(name).isEmpty, s"staging dirs left: ${leftovers(name)}")
      } finally pool.shutdown()
    }
  }

  test("no query file outside GateFixture hand-rolls a fixture protocol") {
    val dir = new File("src/main/scala/graft/queries")
    assert(dir.isDirectory, s"run from the repository root: ${dir.getAbsolutePath}")
    val banned = "_COMPLETE|_SUCCESS|createNewFile|java\\.io\\.tmpdir|_APPENDED|_STREAMED|_COMPACTED|_DELETED".r
    val hits = for {
      f <- dir.listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala") && f.getName != "GateFixture.scala"
      (line, i) <- Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use GateFixture.buildOnce:\n" + hits.mkString("\n"))
  }
}
