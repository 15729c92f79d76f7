package graft

/** Build-once publication for persisted on-disk stores shared across
  * concurrent JVMs (parallel sbt sessions are an expected usage here):
  * build into a fresh temp sibling, stamp the `_built` marker INSIDE
  * it, then atomically rename into place — a reader can never observe
  * a half-built store, and a losing concurrent builder discards its
  * temp copy and serves the winner. A populated destination WITHOUT
  * the marker can only be a crash leftover from a pre-atomic builder
  * (the move itself is atomic), so it is replaced rather than left to
  * fail every future call.
  */
object StorePublish {
  import Scratch.rmTree

  def publishOnce(dir: String)(build: String => Unit): String = {
    val marker = new java.io.File(dir, "_built")
    if (!marker.exists()) {
      val tmp = s"$dir.tmp.${System.nanoTime()}"
      build(tmp)
      new java.io.File(tmp, "_built").createNewFile(): Unit
      try
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(dir),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      catch {
        case e: java.io.IOException =>
          if (marker.exists()) rmTree(tmp) // concurrent builder won
          else {
            // crash-leftover self-heal. The leftover is REPLACED, never
            // deleted in place: between this marker re-check and a
            // delete, a concurrent JVM could publish a COMPLETE store at
            // this path (its move succeeds the instant the leftover is
            // gone), and an in-place rmTree would destroy it — a reader
            // would watch a published store vanish. Renaming the suspect
            // dir aside is atomic, so whatever occupies the path (the
            // leftover, or a just-published equivalent store) moves out
            // in one step and the renamed copy is deleted safely; open
            // readers keep their handles, new readers re-enter
            // publishOnce and find our store once the second move lands.
            val aside =
              java.nio.file.Paths.get(s"$dir.dead.${System.nanoTime()}")
            try {
              try
                java.nio.file.Files.move(java.nio.file.Paths.get(dir),
                  aside, java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
              catch {
                // someone else already healed or claimed the path
                case _: java.io.IOException => ()
              }
              java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
                java.nio.file.Paths.get(dir),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
            } catch {
              case _: java.io.IOException =>
                if (marker.exists()) rmTree(tmp) else throw e
            } finally {
              rmTree(aside.toString)
            }
          }
      }
    }
    dir
  }
}
