package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counters read from outside the engine: Spark's listener bus, the JVM
  * management beans and the file system. */
object Probes {

  /** Cumulative Spark work, from the listener bus. */
  final class SparkCounters extends SparkListener {
    val jobs, tasks, shuffleWriteBytes, spillBytes, runMs = new AtomicLong(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        runMs.addAndGet(m.executorRunTime)
      }
      ()
    }
    def snapshot: Map[String, Long] = Map("jobs" -> jobs.get, "tasks" -> tasks.get,
      "shuffle_write" -> shuffleWriteBytes.get, "spill" -> spillBytes.get,
      "run_ms" -> runMs.get)
  }

  /** (collections, collection ms) summed over every collector. */
  def gc(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(b => math.max(0L, b.getCollectionCount)).sum,
      bs.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  /** Heap in use after a forced full collection, MB. */
  def liveHeapMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** External (not this JVM) system CPU fraction, or -1 when the platform
    * bean cannot say — the same reading as `graft.Bench`'s load probe. */
  def externalCpu(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val sys = b.getCpuLoad
        val self = b.getProcessCpuLoad
        if (sys.isNaN || self.isNaN || sys < 0 || self < 0) -1.0
        else math.max(0.0, sys - self)
      case _ => -1.0
    }

  /** Samples [[externalCpu]] every 500 ms until finished. */
  final class LoadSampler {
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile private var stopped = false
    private val t = new Thread(() => {
      while (!stopped) {
        val e = externalCpu()
        if (e >= 0) samples.add(e)
        try Thread.sleep(500) catch { case _: InterruptedException => }
      }
    }, "perfbench-load-sampler")
    t.setDaemon(true)
    t.start()
    /** (mean, max) external load seen, or (-1, -1) with no samples. */
    def finish(): (Double, Double) = {
      stopped = true
      t.interrupt()
      t.join()
      val xs = samples.asScala.toSeq
      if (xs.isEmpty) (-1.0, -1.0) else (xs.sum / xs.size, xs.max)
    }
  }

  /** Fixed single-thread CPU work: 2^27 xorshift64 steps, seconds. */
  def calSec(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < (1L << 27)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    s
  }

  /** The regular files under `dir` whose name ends with `suffix`. */
  def files(dir: java.io.File, suffix: String = ""): Seq[java.io.File] =
    if (!dir.exists) Nil
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.iterator.asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(suffix)).map(_.toFile).toList
      finally s.close()
    }

  /** Total bytes and count of the files [[files]] lists. */
  def du(dir: java.io.File, suffix: String = ""): (Long, Long) = {
    val fs = files(dir, suffix)
    (fs.map(_.length).sum, fs.size.toLong)
  }
}
