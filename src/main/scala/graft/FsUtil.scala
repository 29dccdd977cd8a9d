package graft

/** Shared recursive delete for the scratch directories the
  * bench/demo/rehearsal mains and the artifact warehouse manage —
  * one definition instead of the five inline copies that had
  * accumulated (any future hardening, e.g. delete-failure reporting,
  * lands in one place). A symbolic link is removed, never followed:
  * the rehearsal's scratch sf directories link the input tables they
  * do not inflate.
  */
object FsUtil {
  def rmTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(); ()
  }
}
