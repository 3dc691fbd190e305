package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import jdk.jfr.consumer.RecordingStream

/** The child processes this JVM starts, counted in process from JFR's
  * `jdk.ProcessStart` events, so a fork floor (Hadoop's `Shell` forks
  * `readlink` and `chmod` on the local filesystem) shows without an external
  * profiler. [[mark]] before a piece of work, [[since]] after it returns the
  * commands started in between. Used by [[Probe]] and the streaming specs.
  *
  * JFR hands events to the stream once per flush (about every second), so
  * [[since]] waits for two flushes after it is called: every process
  * started before the call has then been delivered. [[mark]] does not
  * wait; it is exact when the recording has just started or a [[since]]
  * has just returned.
  */
final class ProcessStarts extends AutoCloseable {
  private val commands = ArrayBuffer.empty[String]
  private val flushes = new AtomicLong()
  private val stream = new RecordingStream()
  stream.enable("jdk.ProcessStart").withoutStackTrace()
  stream.onEvent("jdk.ProcessStart",
    e => commands.synchronized { commands += e.getString("command") })
  stream.onFlush(() => flushes.incrementAndGet())
  stream.startAsync()

  def mark(): Int = commands.synchronized(commands.size)

  /** The command lines of the processes started after `mark`, in start
    * order. */
  def since(mark: Int): Seq[String] = {
    val target = flushes.get + 2
    val deadline = System.nanoTime() + 30000000000L
    while (flushes.get < target && System.nanoTime() < deadline)
      Thread.sleep(20)
    require(flushes.get >= target, "JFR stream delivered no flush in 30 s")
    commands.synchronized(commands.drop(mark).toList)
  }

  override def close(): Unit = stream.close()
}
