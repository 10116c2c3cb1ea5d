package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scratch sweep reaps directories of crashed runs, never those of a
  * running session: a live session's blocks may be written once and read
  * for hours, and reads do not bump modification times.
  */
class ScratchSweepSpec extends AnyFunSuite {

  test("sweepStale keeps a live session's old scratch and reaps dead ones") {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep").toFile
    def touchOld(f: java.io.File, at: Long): Unit = {
      Option(f.listFiles()).foreach(_.foreach(touchOld(_, at)))
      f.setLastModified(at); ()
    }
    def mkBlocks(dir: java.io.File): java.io.File = {
      val b = new java.io.File(dir, "blockmgr-0/0c")
      b.mkdirs()
      val f = new java.io.File(b, "rdd_3_0")
      java.nio.file.Files.writeString(f.toPath, "checkpoint")
      f
    }
    val live = Graft.ownedDir(root)
    val liveBlock = mkBlocks(live)
    // a recycled pid: this JVM's pid, another process's start time
    val recycled = new java.io.File(root, "jvm-recycled")
    mkBlocks(recycled)
    java.nio.file.Files.writeString(new java.io.File(recycled, Graft.OwnerFile).toPath,
      s"${ProcessHandle.current().pid} 1")
    // a directory from before owner stamps
    val legacy = new java.io.File(root, "blockmgr-legacy")
    mkBlocks(legacy)
    // a dead run's directory that is still young
    val young = new java.io.File(root, "jvm-young")
    mkBlocks(young)

    val old = System.currentTimeMillis() - 13L * 3600 * 1000
    Seq(live, recycled, legacy).foreach(touchOld(_, old))
    Graft.sweepStale(root, maxAgeMs = 12L * 3600 * 1000)

    assert(Graft.ownerAlive(live))
    assert(liveBlock.isFile, "a live session's 13-hour-old block was reaped")
    assert(!recycled.exists() && !legacy.exists())
    assert(young.exists())
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(root)
  }
}
