package graft

import org.scalatest.funsuite.AnyFunSuite

/** The atomic build-once publisher's contracts — the concurrency and
  * crash-recovery behavior every persisted index store (vector
  * auto-indexes, BM25/phrase text stores) now rides on. No Spark
  * session needed: the device is pure filesystem.
  */
class StorePublishSpec extends AnyFunSuite {

  // a store path that does not exist yet; its builders' staging
  // siblings land in the same temp dir, which goes at JVM exit
  private def freshDir(): String =
    Scratch.tempDir("graft_sp_").resolve("store").toString

  private def slowBuild(files: Int, payload: String)(dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    for (i <- 0 until files) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/part-$i"), s"$payload-$i")
      Thread.sleep(5) // widen the race window
    }
  }

  test("a reader can never observe a partially built store") {
    val dir = freshDir()
    // two racing builders with DISTINGUISHABLE content; whoever wins,
    // the published store must be internally consistent (all 8 parts
    // from ONE builder) and carry the marker
    val t1 = new Thread(() =>
      StorePublish.publishOnce(dir)(slowBuild(8, "alpha")))
    val t2 = new Thread(() =>
      StorePublish.publishOnce(dir)(slowBuild(8, "beta")))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(new java.io.File(dir, "_built").exists(), "marker must exist")
    val parts = (0 until 8).map(i => new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(s"$dir/part-$i")), "UTF-8"))
    val prefixes = parts.map(_.split("-")(0)).distinct
    assert(prefixes.size == 1,
      s"store mixes two builders' output: $parts")
    assert(parts == (0 until 8).map(i => s"${prefixes.head}-$i"),
      s"store is incomplete: $parts")
    // and no temp siblings were left behind
    val leftovers = new java.io.File(dir).getParentFile.listFiles()
      .filter(_.getName.startsWith(new java.io.File(dir).getName + ".tmp"))
    assert(leftovers.isEmpty, s"temp dirs leaked: ${leftovers.toSeq}")
  }

  test("a populated but marker-less destination (pre-atomic crash leftover) self-heals") {
    val dir = freshDir()
    // simulate the crash leftover: content present, no _built marker
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-0"), "stale-torso")
    StorePublish.publishOnce(dir)(slowBuild(3, "fresh"))
    assert(new java.io.File(dir, "_built").exists(), "marker must exist")
    val p0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/part-0")), "UTF-8")
    assert(p0 == "fresh-0", s"stale torso must be replaced, got $p0")
    assert(new java.io.File(s"$dir/part-2").exists(), "rebuild incomplete")
  }

  test("an already-published store is served without rebuilding") {
    val dir = freshDir()
    var builds = 0
    StorePublish.publishOnce(dir) { d => builds += 1; slowBuild(1, "one")(d) }
    StorePublish.publishOnce(dir) { d => builds += 1; slowBuild(1, "two")(d) }
    assert(builds == 1, s"second call must not rebuild, built $builds times")
    val p0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/part-0")), "UTF-8")
    assert(p0 == "one-0")
  }
}
