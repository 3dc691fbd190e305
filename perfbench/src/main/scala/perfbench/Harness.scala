package perfbench

import graft.{SparkEntry, Tables}
import graft.sources.StagingFs
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM.
  *
  * Sets up a `local[N]` session whose staging root and scratch live in the
  * run's own directory, loads the fixtures, then runs one cold pass, a
  * fixed number of settle passes (timed, but left out of the metrics) and a
  * fixed number of warm passes over a workload's queries (order shuffled
  * per pass from the seed). Each query is timed as
  * construction (`fn(spark, dir)`) plus an action on the `noop` sink, which
  * consumes every output column. The cold pass's results are written as
  * parquet, outside the timed region, for run.py's oracle check. Raw
  * timings, and with `--trace 1` the spans, go to `<out>/run.json`.
  *
  * Usage: Harness --fixtures DIR --queries a,b,c --cpus N --seed S
  *   --settle-passes K --warm-passes P --trace 0|1 --out DIR
  * or: Harness --fixtures DIR --cpus N --out DIR --explain QUERY
  */
object Harness {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val dir = opt("fixtures")
    val out = Paths.get(opt("out")).toAbsolutePath
    val cpus = opt("cpus").toInt
    val traced = opt.get("trace").contains("1")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", out.resolve("local").toString)
      .config("spark.graft.staging.root", "file:" + out.resolve("staging"))
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val tableSec = Tables.names.map { n =>
      val s = System.nanoTime()
      Tables.load(spark, dir, n)
      n -> (System.nanoTime() - s) / 1e9
    }
    spark.range(1000000).selectExpr("sum(id)").collect()
    println("PERFBENCH READY")
    System.out.flush()

    opt.get("explain").foreach { q =>
      explain(spark, q, SparkEntry.queries(q)(spark, dir))
      spark.stop()
      return
    }

    val names = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val settlePasses = opt("settle-passes").toInt
    val warmPasses = opt("warm-passes").toInt
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query: $n"))).toMap
    val results = out.resolve("results")

    def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    // heap still in use after the full GC that ends each pass: what the
    // engine retains, free of when young collections happen to run
    var peakHeap = 0.0
    def sampleHeap(): Unit = peakHeap = math.max(peakHeap,
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0)

    // pass 0 is cold and traced; in a traced run the warm passes go
    // untraced, traced, traced, untraced, ... so the run measures its own
    // tracing overhead without favouring the later (warmer) passes
    def runPass(pass: Int): String = {
      val warm = pass - settlePasses
      val kind = if (pass == 0) "cold" else if (warm <= 0) "settle" else "warm"
      val tracedPass = tracer.filter(_ => pass == 0 || warm > 0 && warm % 4 >= 2)
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val gc0 = gcSeconds
      val builds0 = StagingFs.buildCosts
      val passSpan = tracedPass.map(_.open("pass", s"$kind $pass", 0))
      val rows = order.map { name =>
        var construct, action = 0.0
        val error = try {
          def phase[T](p: String, parent: Long)(body: Long => T): T = tracedPass match {
            case Some(t) => t.within(p, name, parent)(s => body(s.id))
            case None => body(0L)
          }
          val df = phase("query", passSpan.map(_.id).getOrElse(0L)) { q =>
            val s0 = System.nanoTime()
            val df = phase("construct", q)(_ => fns(name)(spark, dir))
            val s1 = System.nanoTime()
            phase("action", q)(_ => df.write.format("noop").mode("overwrite").save())
            construct = (s1 - s0) / 1e9
            action = (System.nanoTime() - s1) / 1e9
            df
          }
          if (pass == 0) df.write.parquet(results.resolve(name).toString)
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        }
        cleanup(spark)
        Json.obj("name" -> Json.str(name), "construct_s" -> Json.num(construct),
          "action_s" -> Json.num(action),
          "error" -> error.map(Json.str).getOrElse("null"))
      }
      passSpan.foreach(_.end = tracer.get.now())
      val gc = gcSeconds - gc0
      val builds = StagingFs.buildCosts.filterNot { case (k, _) => builds0.contains(k) }
      System.gc()
      sampleHeap()
      Json.obj("kind" -> Json.str(kind), "traced" -> tracedPass.isDefined.toString,
        "span" -> passSpan.map(_.id.toString).getOrElse("0"),
        "gc_s" -> Json.num(gc), "stage_builds" -> builds.size.toString,
        "stage_build_s" -> Json.num(builds.values.sum),
        "queries" -> Json.arr(rows))
    }

    val passes = (0 to settlePasses + warmPasses).map(runPass)
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
    spark.stop()  // drains the listener buses before the spans are read
    tracer.foreach(_.attributeExecutions())
    val spans = tracer.toSeq.flatMap(_.spans).map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }: _*))
    }
    Files.writeString(out.resolve("run.json"), Json.obj(
      "tables_s" -> Json.obj(tableSec.map { case (n, s) => n -> Json.num(s) }: _*),
      "passes" -> Json.arr(passes),
      "peak_heap_mb" -> Json.num(peakHeap),
      "oracle_sql" -> Json.obj(oracle: _*),
      "spans" -> Json.arr(spans)))
  }

  /** Drop per-query residue so later queries do not pay for earlier ones. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** Print the plan Spark executes for the timed action on `df`. */
  private def explain(spark: SparkSession, name: String, df: DataFrame): Unit = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(s"== Optimized ==\n${qe.optimizedPlan}\n== Executed ==\n${qe.executedPlan}")
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    df.write.format("noop").mode("overwrite").save()
    spark.stop()
    println(s"timed action plan for $name:")
    plans.asScala.foreach(println)
  }
}
