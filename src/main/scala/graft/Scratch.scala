package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch directories on the local filesystem: one recursive delete,
  * and one registry of dirs deleted when the JVM exits.
  *
  * Gated queries that build an index or stage a stream return lazy
  * DataFrames that still read from their dirs, so those dirs cannot be
  * deleted when the function returns. They are registered here instead,
  * and a shutdown hook deletes them, so repeated verify, bench and test
  * runs do not pile up copies in the tmpdir.
  */
object Scratch {

  /** Delete `p` and everything under it; a missing path is a no-op. The
    * walk stream is closed (the `Files.walk` javadoc requires it).
    */
  def rmTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
  }

  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      atExit.forEach { p =>
        // one undeletable dir must not keep the others on disk
        try rmTree(p.toString)
        catch { case scala.util.control.NonFatal(_) => () }
      }))
  }

  /** Register `p` for recursive deletion at JVM exit; returns `p`. */
  private def deleteAtExit(p: Path): Path = { atExit.add(p); p }

  /** A fresh temp dir, deleted at JVM exit. */
  def tempDir(prefix: String): Path =
    deleteAtExit(Files.createTempDirectory(prefix))

  /** The per-dataset, per-tag tmp dir of a gate that rebuilds its index
    * on every call (build → append → delete), deleted at JVM exit. It is
    * keyed per PROCESS as well as per dataset: the dir is mutated in
    * place, so two concurrent JVMs running the same gate must not share
    * it (unlike the publishOnce stores, which are immutable once
    * published and safely shared). No later process reads it.
    */
  def processDir(d: String, name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val pid = java.lang.ProcessHandle.current().pid()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${h}_p$pid"
    deleteAtExit(Paths.get(dir))
    dir
  }
}
