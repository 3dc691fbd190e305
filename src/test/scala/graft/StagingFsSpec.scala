package graft

import java.nio.file.{Files, Path}
import graft.sources.StagingFs

/** [[StagingFs.cleanLocalScratch]] removes only stamped named caches, and a
  * staged table is read without re-inferring its schema. */
class StagingFsSpec extends SparkSpecBase {

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

  test("constructing a stage-reading query a second time submits no Spark job") {
    val q = SparkEntry.queries("dedup_ngram_jaccard")
    // the first construction builds the shingle stage and infers its schema
    val (first, _) = jobsDuring(q(spark, sfDir))
    val (again, jobs) = jobsDuring(q(spark, sfDir))
    assert(jobs == 0)
    assert(again.schema == first.schema)
    assert(again.collect().map(_.toString).sorted.toSeq ==
      first.collect().map(_.toString).sorted.toSeq)
  }
}
