package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.sources.StagingFs

/** Every staged input is built once per (application, fixture) and lands in
  * the build ledger, and a staged table is read without re-inferring its
  * schema. */
class StagingFsSpec extends SparkSpecBase {

  test("replay stages of rows built twice on 4 threads are each built and ledgered once") {
    // a private copy of the fixture and a private staging root, so every
    // stage below is first built in this case
    val dir = Files.createTempDirectory("staging-spec-fixture")
    Files.list(Paths.get(sfDir)).iterator.asScala
      .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val root = Files.createTempDirectory("staging-spec-root")
    val stages = Seq(
      "stream_static_join" -> "graft-stream-src",
      "stream_interval_join_multibatch" -> "graft-stream-quarters",
      "stream_allowed_lateness" -> "graft-stream-rrobin",
      "stream_ivf_ingest" -> "graft-vec-quarters")
    withConf("spark.graft.staging.root" -> ("file:" + root)) {
      val pool = Executors.newFixedThreadPool(4)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val rows = stages.map(_._1)
        Await.result(Future.traverse(rows ++ rows)(r =>
          Future(SparkEntry.queries(r)(spark, dir.toString))), 10.minutes)
      } finally pool.shutdown()
    }
    val ledger = StagingFs.buildCosts.keys.toSeq
    val built = Files.list(root).iterator.asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq
    stages.foreach { case (row, prefix) =>
      assert(ledger.count(_.endsWith(s"$dir#$prefix")) == 1, s"$row: $ledger")
      assert(built.count(_.startsWith(prefix + "-")) == 1, s"$row: $built")
    }
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
