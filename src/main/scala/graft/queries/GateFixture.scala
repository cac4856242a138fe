package graft.queries

import java.io.File
import java.util.UUID
import org.apache.commons.io.FileUtils

/** The one build-once protocol for gate fixtures (Druid v9 trees,
  * streams, segment stores, persisted indexes): a fixture is served
  * only once its whole build finished, the way a Druid reader only
  * sees segments whose descriptors were published.
  *
  * `build` writes into a fresh `<name>_<sf>_build_<uuid>` staging dir;
  * `_COMPLETE` is written only after `build` returns, and the staging
  * dir is promoted to `<name>_<sf>` by one atomic rename. A root
  * without `_COMPLETE` (a pre-protocol or hand-made dir) is rebuilt,
  * never served; a `build` that throws leaves only its staging dir,
  * which is deleted. Builders racing on one key (two threads, or a
  * Bench ∥ Verify JVM pair) each build privately; the first rename
  * wins and the others drop their staging dir and return the winner's.
  * Callers bump the version inside `name` whenever what `build` writes
  * changes, so a cached fixture never serves an old layout. */
object GateFixture {

  private val Sentinel = "_COMPLETE"
  private val BuildTag = "_build_"

  /** The root a staging dir handed to `build` is promoted to — for
    * builds that must record their final absolute location. */
  def promotedRoot(staging: File): File =
    new File(staging.getParentFile,
      staging.getName.substring(0, staging.getName.lastIndexOf(BuildTag)))

  def buildOnce(name: String, sfDir: String)(build: File => Unit): File = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val key = s"${name}_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val root = new File(tmp, key)
    val sentinel = new File(root, Sentinel)
    if (sentinel.isFile) return root
    val staging = new File(tmp, s"$key$BuildTag${UUID.randomUUID}")
    try {
      build(staging)
      staging.mkdirs()
      require(new File(staging, Sentinel).createNewFile(), s"cannot seal $staging")
      if (root.exists() && !sentinel.isFile) {
        // an unsealed root never finished building: move it aside whole
        val stale = new File(tmp, s"${key}_stale_${UUID.randomUUID}")
        if (root.renameTo(stale)) FileUtils.deleteQuietly(stale)
      }
      // fails, leaving the winner in place, if another builder promoted first
      staging.renameTo(root)
      require(sentinel.isFile, s"gate fixture promote failed: $root")
    } finally FileUtils.deleteQuietly(staging) // gone already once promoted
    root
  }
}
