package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.StagingFs

/** [[StagingFs.cleanLocalScratch]] removes only stamped named caches. */
class StagingFsSpec extends AnyFunSuite {

  test("cleanLocalScratch removes stamped caches and leaves unstamped dirs and other files") {
    val root = Files.createTempDirectory("scratch-clean-spec")
    def dir(name: String): Path = {
      val d = Files.createDirectory(root.resolve(name))
      Files.writeString(d.resolve("part-0.parquet"), "x")
      d
    }
    def file(name: String): Path = Files.writeString(root.resolve(name), "x")
    val cache = dir("graft-stream-src-1a2b")
    val stamp = file("graft-stream-src-1a2b.stamp")
    // a live JVM's unique stage dir: no stamp, must survive
    val live = dir("graft-ckpt-state-0f1e2d3c-4b5a")
    val other = file("notes.txt")
    val looseStamp = file("graft-orphan.stamp")

    StagingFs.cleanLocalScratch(root.toFile)

    assert(!Files.exists(cache) && !Files.exists(stamp))
    assert(Files.exists(live.resolve("part-0.parquet")))
    assert(Files.exists(other) && Files.exists(looseStamp))
  }
}
