package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The registry's per-JVM scratch root: opening it sweeps the roots
  * of dead JVMs and leaves everything else under the parent alone.
  */
class ScratchRootSpec extends AnyFunSuite {

  private def plant(dir: Path): Path = {
    Files.createDirectories(dir.resolve("ckpt/offsets"))
    Files.writeString(dir.resolve("ckpt/offsets/0"), "v1")
  }

  test("opening the root sweeps dead-pid roots; live, own and non-pid entries survive") {
    val parent = Files.createTempDirectory("graft-scratch-spec")
    try {
      val self = ProcessHandle.current().pid()
      // no process holds this pid: it is above every OS's pid limit
      val dead = parent.resolve(Int.MaxValue.toString)
      assert(!ProcessHandle.of(Int.MaxValue.toLong).isPresent)
      // the process that launched this JVM outlives it
      val live = parent.resolve(ProcessHandle.current().parent().get().pid().toString)
      val own = parent.resolve(self.toString)
      val other = parent.resolve("notes")
      Seq(dead, live, own, other).foreach(plant)

      val root = SparkEntry.openScratchRoot(parent)

      assert(root == own)
      assert(!Files.exists(dead))
      assert(Files.exists(live.resolve("ckpt/offsets/0")))
      assert(Files.exists(own.resolve("ckpt/offsets/0")))
      assert(Files.exists(other.resolve("ckpt/offsets/0")))
      // idempotent: a second open in the same JVM keeps its root
      assert(SparkEntry.openScratchRoot(parent) == own)
      assert(Files.exists(own.resolve("ckpt/offsets/0")))
    } finally {
      val s = Files.walk(parent)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  test("a missing parent is created") {
    val base = Files.createTempDirectory("graft-scratch-spec")
    val root = SparkEntry.openScratchRoot(base.resolve("graft-scratch"))
    assert(Files.isDirectory(root))
    assert(root.getFileName.toString == ProcessHandle.current().pid().toString)
    Files.delete(root); Files.delete(root.getParent); Files.delete(base)
  }
}
