package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every location the program materializes comes from one storage root
  * ([[Graft.targetDir]]): no source file under `src/main` names the
  * checkout's own absolute path, or an absolute path into a `target`
  * directory. Test sources may.
  */
class StorageRootSpec extends AnyFunSuite {

  test("src/main names no absolute checkout or target path") {
    val root = new java.io.File(sys.props("user.dir")).getCanonicalFile
    val absTarget = "\"/[^\"\\s]*/target/".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else Seq(f)
    val sources = files(new java.io.File(root, "src/main"))
    assert(sources.nonEmpty)
    val offending = sources.filter { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      text.contains(root.getPath + "/") || absTarget.findFirstIn(text).isDefined
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
