package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spark work counters, summed from listener events. */
final class Counters extends SparkListener {
  val jobs, tasks, cpuNs, shuffleBytes, spillBytes, writtenBytes =
    new AtomicLong()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      writtenBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
    ()
  }
  def snapshot: Array[Long] = Array(jobs.get, tasks.get, cpuNs.get,
    shuffleBytes.get, spillBytes.get, writtenBytes.get)
}

object Counters {
  val Names = Seq("jobs", "tasks", "cpu_ns", "shuffle_bytes", "spill_bytes",
    "written_bytes")
}

/** One recorded span: a call into one layer, with the Spark work it ran. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long, work: Array[Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(c: String): Long = work(Counters.Names.indexOf(c))
}

/** Spans around the benchmark's calls into the program's layers. Off, a
  * span is just the call; on, it drains the listener bus at both ends
  * and keeps the span in memory until [[writeJsonLines]] at exit.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val counters = new Counters
  if (enabled) sc.addSparkListener(counters)
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1L

  private def work(): Array[Long] = {
    org.apache.spark.BenchBridge.drainListenerBus(sc)
    counters.snapshot
  }

  /** Opens op `op`: its spans carry this id until the next call. */
  def op(id: Long): Unit = currentOp = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val w0 = work()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val w1 = work()
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, t0, t1,
          w1.zip(w0).map { case (a, b) => a - b })
      }
    }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val w = Counters.Names.zip(s.work)
        .map { case (n, v) => s""""$n":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},$w}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}

/** GC and JIT time of this JVM, and the classes Spark's code generator
  * compiled, read at both ends of the timed region.
  */
object JvmTimes {
  import scala.jdk.CollectionConverters._
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = Option(java.lang.management.ManagementFactory
    .getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}
