package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable.ArrayBuffer

/** User-defined streaming source — the reference's `addSource
  * (SourceFunction)` capability (`StreamExecutionEnvironment.java:1186`,
  * `SourceFunction.java`) re-expressed as a Spark DataSourceV2
  * `MicroBatchStream`.
  *
  * Spark's built-in socket source is a single-partition testing-grade
  * reader (documented "not for production"): each micro-batch converts its
  * buffered lines driver-side, one row at a time, on one task — measured at
  * ~2.7 s per 100k-line batch in this repo's bench.
  * This source shows the custom-source API doing it properly:
  *
  *  - a reader thread drains the TCP stream into a line buffer off the
  *    query path (the reference's SourceFunction.run contract);
  *  - offsets are cumulative line counts — exactly-once replay of a range
  *    is a buffer slice (`deserializeOffset`/`planInputPartitions`);
  *  - each micro-batch SPLITS its line range into `numPartitions` input
  *    partitions, so decode + downstream aggregation parallelize across
  *    the cluster instead of serializing on one task.
  *
  * The capability surface (not raw socket throughput) is the point: any
  * external system one can poll — queue, log tail, RPC — plugs into
  * Structured Streaming through exactly this 4-class shape. */
object GraftSocketSource {
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Cumulative-line-count offset (DSv2 wants a JSON-serializable token). */
  case class CountOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }
}

class GraftSocketSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSocketSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // getTable receives the ORIGINAL-cased option keys (Spark hands over
    // asCaseSensitiveMap) — re-wrap so "numPartitions" actually resolves
    val opts = new CaseInsensitiveStringMap(properties)
    val host = opts.get("host")
    val port = opts.get("port")
    require(host != null && port != null,
      "graft-socket source requires 'host' and 'port' options " +
        s"(got host=$host, port=$port)")
    new GraftSocketTable(host, port.toInt, opts.getInt("numpartitions", 4))
  }
}

class GraftSocketTable(host: String, port: Int, numPartitions: Int)
  extends Table with SupportsRead {
  override def name(): String = s"graft-socket://$host:$port"
  override def schema(): StructType = GraftSocketSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftSocketSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftSocketMicroBatchStream(host, port, numPartitions)
      }
    }
}

class GraftSocketMicroBatchStream(host: String, port: Int, numPartitions: Int)
  extends MicroBatchStream {
  import GraftSocketSource.CountOffset

  // lines live here until the committed offset passes them; the reader
  // thread is the only writer, the query thread the only reader — guard
  // with the buffer's own lock (micro-batch cadence, not per-row)
  private val lines = ArrayBuffer[String]()
  // lines dropped from the buffer head by commit() — translates global
  // line offsets to buffer indices
  private var trimmed = 0L
  private val error = new AtomicReference[Throwable](null)

  private val socket = new java.net.Socket(host, port)
  private val reader = new Thread(() => {
    try {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(socket.getInputStream, "UTF-8"), 1 << 16)
      var line = in.readLine()
      while (line != null) {
        lines.synchronized { lines += line }
        line = in.readLine()
      }
    } catch {
      case _: Throwable if socket.isClosed => // normal stop()
      case e: Throwable => error.set(e)
    }
  }, s"graft-socket-reader-$port")
  reader.setDaemon(true)
  reader.start()

  private def raise(): Unit = {
    val e = error.get()
    if (e != null) throw new IllegalStateException("socket reader failed", e)
  }

  override def initialOffset(): Offset = CountOffset(0L)
  override def latestOffset(): Offset = {
    raise()
    lines.synchronized(CountOffset(trimmed + lines.length))
  }
  override def deserializeOffset(json: String): Offset = CountOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    raise()
    val lo = start.asInstanceOf[CountOffset].n
    val hi = end.asInstanceOf[CountOffset].n
    val chunk = lines.synchronized {
      require(lo >= trimmed, s"offset $lo already committed past (trimmed=$trimmed)")
      // the symmetric upper bound: silently slicing past the buffer would
      // complete a recovered batch with 0 rows and misattribute every
      // later offset — the exactly-once claim demands failing loudly
      // (this in-memory source cannot replay lines a previous instance
      // buffered; a durable source would re-read them from its log)
      require(hi <= trimmed + lines.length,
        s"offset range [$lo, $hi) beyond buffered data " +
          s"(trimmed=$trimmed, buffered=${lines.length})")
      // toIntExact: a buffer past 2^31 lines must fail loudly, not wrap
      lines.slice(Math.toIntExact(lo - trimmed),
        Math.toIntExact(hi - trimmed)).toArray
    }
    // split the range across tasks — the whole point vs the built-in
    // single-partition source; empty batches plan zero partitions
    if (chunk.isEmpty) Array.empty
    else chunk.grouped(math.max(1, math.ceil(
        chunk.length.toDouble / numPartitions).toInt))
      .map(g => GraftSocketPartition(g): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val rows = p.asInstanceOf[GraftSocketPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow =
            new GenericInternalRow(Array[Any](UTF8String.fromString(rows(i))))
          override def close(): Unit = ()
        }
      }
    }

  override def commit(end: Offset): Unit = {
    val upTo = end.asInstanceOf[CountOffset].n
    lines.synchronized {
      require(upTo <= trimmed + lines.length,
        s"commit($upTo) beyond buffered data " +
          s"(trimmed=$trimmed, buffered=${lines.length})")
      val drop = Math.toIntExact(upTo - trimmed)
      if (drop > 0) { lines.dropInPlace(drop); trimmed = upTo }
    }
  }

  override def stop(): Unit = {
    try socket.close() catch { case _: Throwable => () }
  }
}

/** Lines of one task's slice of a micro-batch (serialized to executors). */
case class GraftSocketPartition(rows: Array[String]) extends InputPartition
