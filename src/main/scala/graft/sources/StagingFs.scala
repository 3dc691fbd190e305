package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentHashMap

/** Cluster-portable staging I/O for the cross-query parquet stages and the
  * streaming feedback/replay machinery.
  *
  * Every path operation goes through the Hadoop `FileSystem` API resolved
  * from the staging root's own scheme, so the exact code that stages dedup
  * signatures or adopts feedback part files on local[32] runs unchanged
  * against HDFS / S3A / any Hadoop-compatible store: point
  * `spark.graft.staging.root` at `hdfs:///tmp/graft` (or `s3a://…`) and the
  * driver's stage writes land on storage every executor can read. With the
  * conf unset the root is the local tmpdir via the `file:` scheme — same
  * behavior the `java.nio` implementation had, proven by the unchanged
  * oracle hashes.
  *
  * Stage directories are registered with the owning FileSystem's
  * `deleteOnExit`, so the JVM-shutdown FileSystem close reclaims them — the
  * lifetime-of-the-JVM temp leak the java.nio version had is gone.
  */
object StagingFs {

  /** Staging root (any Hadoop-FS URI). Configurable per session via
    * `spark.graft.staging.root`; defaults to the local tmpdir. */
  def root(spark: SparkSession): Path = new Path(
    spark.conf.getOption("spark.graft.staging.root")
      .getOrElse("file:" + sys.props("java.io.tmpdir")))

  /** FileSystem instance for `p`, resolved against the session's Hadoop
    * configuration (picks up core-site/HDFS/S3 settings on a cluster). */
  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Create a fresh, unique staging directory under the root; registered
    * for removal when the JVM's FileSystem instances close. */
  def newStageDir(spark: SparkSession, prefix: String): String = {
    val p = new Path(root(spark),
      s"$prefix-${java.util.UUID.randomUUID().toString.take(13)}")
    val f = fs(spark, p)
    require(f.mkdirs(p), s"could not create staging dir $p")
    f.deleteOnExit(p)
    p.toString
  }

  // one holder per stage key; the lazy val inside the closure gives
  // exactly-once build semantics without holding a ConcurrentHashMap bin
  // lock for the duration of an expensive distributed write
  private val stages = new ConcurrentHashMap[String, () => String]()

  // wall-clock seconds each one-time stage build cost, by stage key —
  // benchmark attribution: whichever query triggers the build pays the
  // whole chain, and this ledger lets Bench report that cost explicitly
  // instead of leaving a mystery spike on one query's timing
  private val buildLedger = new ConcurrentHashMap[String, Double]()

  /** Snapshot of (stage key -> build seconds) for builds that ran in this
    * JVM. Read by [[graft.Bench]] after each query to attribute one-time
    * stage costs to the query that paid them. */
  def buildCosts: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildLedger.asScala.toMap
  }

  // explicit nesting attribution: each in-flight stage build pushes an
  // accumulator; a child build adds its WALL seconds to its immediate
  // parent's accumulator, so the parent records exclusive time. Replaces
  // the r13 global-ledger diff, which misattributed a concurrent unrelated
  // build on another thread as nested (advisor note) — the stack is
  // thread-local, so only true same-thread nesting subtracts.
  private val buildStack = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
  }

  /** The stage `prefix` of fixture `dir`, in a fresh [[newStageDir]] that
    * `build` fills once per (application, fixture, prefix); every caller,
    * concurrent first callers included, gets that directory back once the
    * build completes. Every staged input is built here — the parquet stages
    * of [[readStage]], the IVF lakes, the BPE merges and the streaming
    * replay copies and splits — so each lands once in [[buildCosts]], and
    * none outlives the JVM.
    *
    * Ledger accounting is EXCLUSIVE of nested builds (measurement-bug fix,
    * optimization round 13): a chained stage whose build function itself
    * builds a stage (minhash pairs → sigs → shingles) used to record the
    * whole nested chain in EVERY enclosing entry, so the bench's stage_sec
    * summed the shingle scan three times (r12: ledger 31.6 s for a chain
    * whose true wall cost was 14 s) and the triggering query's
    * stage-adjusted time was over-subtracted to ~0. Each entry now records
    * only its own exclusive seconds: child-ledger deltas observed during
    * the build are subtracted. */
  def stage(spark: SparkSession, dir: String, prefix: String)
           (build: String => Unit): String = {
    val key = spark.sparkContext.applicationId + "#" + dir + "#" + prefix
    val thunk = stages.computeIfAbsent(key, _ => {
      lazy val path: String = {
        val d = newStageDir(spark, prefix)
        val acc = Array(0.0)
        buildStack.get().push(acc)
        val t0 = System.nanoTime()
        val wall = try {
          build(d)
          (System.nanoTime() - t0) / 1e9
        } finally buildStack.get().pop()
        val nested = acc(0)
        val sec = math.max(0.0, wall - nested)
        buildLedger.put(key, sec)
        val parent = buildStack.get().peek()
        if (parent != null) parent(0) += wall
        System.err.println(
          f"[stage-build] key=$key prefix=$prefix ${sec}%.2fs (wall $wall%.2fs, nested $nested%.2fs)")
        d
      }
      () => path
    })
    thunk()
  }

  // schema of each written stage, by stage path: a path comes from
  // newStageDir, unique per build and written once, so it never changes
  private val stageSchemas = new ConcurrentHashMap[String, StructType]()

  /** Read the parquet stage `prefix` of fixture `dir`, built once per
    * (app, fixture) by [[stage]] — the shared-materialization shape a
    * real pipeline uses (parquet, not cached blocks, so per-query storage
    * cleanup cannot drop it). The stage's schema is inferred once per
    * stage path, so only the first construction pays the inference job. */
  def readStage(spark: SparkSession, dir: String, prefix: String)
               (build: String => Unit): DataFrame = {
    val path = stage(spark, dir, prefix)(build)
    spark.read.schema(stageSchemas.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)).parquet(path)
  }

  /** Committed `.parquet` part files of `srcDir`, in name order. */
  def listParts(spark: SparkSession, srcDir: String): Seq[FileStatus] = {
    val src = new Path(srcDir)
    fs(spark, src).listStatus(src).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
  }

  /** Move every committed part file of `srcDir` into `dstDir` under a
    * unique prefix (FileSystem.rename — metadata only on HDFS/local; the
    * parquet bytes were written distributed), then drop `srcDir`.
    *
    * Requires a filesystem with ATOMIC rename (local/HDFS). On an object
    * store (S3A) rename is a copy and a concurrently listing file source
    * could observe a partial feedback file — the same constraint
    * [[setMtime]] enforces fail-fast for the replay path; the streaming
    * feedback machinery that calls this is local/HDFS-only by that check. */
  def adoptParts(spark: SparkSession, srcDir: String, dstDir: String,
                 prefix: String): Unit = {
    val src = new Path(srcDir)
    val f = fs(spark, src)
    listParts(spark, srcDir).zipWithIndex.foreach { case (st, i) =>
      val dst = new Path(dstDir, s"$prefix-$i.parquet")
      require(f.rename(st.getPath, dst), s"rename ${st.getPath} -> $dst failed")
    }
    f.delete(src, true)
  }

  def exists(spark: SparkSession, p: Path): Boolean = fs(spark, p).exists(p)

  def delete(spark: SparkSession, p: Path): Unit = fs(spark, p).delete(p, true)

  def mkdirs(spark: SparkSession, p: Path): Unit = fs(spark, p).mkdirs(p)

  /** mtime:size stamp of a source file — the key of the in-JVM memos of
    * fixture-derived values (schemas, row counts, the socket feed). */
  def fileStamp(spark: SparkSession, p: Path): String = {
    val st = fs(spark, p).getFileStatus(p)
    s"${st.getModificationTime}:${st.getLen}"
  }

  /** Copy one file (used to stage a read-only fixture file into a listable
    * source directory — works across schemes, e.g. local fixture → HDFS). */
  def copyFile(spark: SparkSession, src: Path, dst: Path): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val ok = FileUtil.copy(src.getFileSystem(conf), src,
      dst.getFileSystem(conf), dst, false, true, conf)
    require(ok, s"copy $src -> $dst failed")
  }

  /** Pin a file's modification time (micro-batch ordering for the file
    * streaming source's mtime-ordered listing).
    *
    * `FileSystem.setTimes` is a silent no-op on stores that don't support
    * it (the base implementation does nothing, and S3A never overrides it),
    * which would make the "deterministic" replay order arbitrary — so the
    * mtime is read back and verified. Deterministic multi-batch replay
    * therefore requires a filesystem with real setTimes semantics (local,
    * HDFS); on an object-store staging root this fails fast instead of
    * silently reordering micro-batches. */
  def setMtime(spark: SparkSession, p: Path, mtimeMs: Long): Unit = {
    val f = fs(spark, p)
    f.setTimes(p, mtimeMs, -1)
    val actual = f.getFileStatus(p).getModificationTime
    require(actual == mtimeMs,
      s"setTimes($p) did not take effect (mtime=$actual, wanted=$mtimeMs): " +
        "the staging root's filesystem does not support setTimes — " +
        "deterministic multi-batch replay needs local/HDFS staging, " +
        "not an object store")
  }
}
