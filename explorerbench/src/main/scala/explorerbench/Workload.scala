package explorerbench

import graft.chain.RawBlock
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** What one run measured and checked. `endToEnd` holds the metrics a user
  * of the explorer sees; `perLayer` is filled by traced runs only; `info`
  * records the inputs and the raw figures behind each metric.
  */
final case class Result(attempted: Long, failed: Long,
  checks: Map[String, Boolean], endToEnd: Map[String, Double],
  perLayer: Map[String, Double], info: Map[String, Any])

/** Shared plumbing of the workloads. */
abstract class Workload(val spark: SparkSession, val trace: Trace, val seed: Long,
  val seconds: Int, val work: String) {

  val cores: Int = spark.sparkContext.defaultParallelism

  def run(): Result

  protected def now(): Long = System.currentTimeMillis()

  protected def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `f`; return its result, its wall time in ms, and the share of the
    * host's CPU time stolen by the hypervisor meanwhile (see [[Steal]]).
    */
  protected def measured[A](f: => A): (A, Double, Double) = {
    val s0 = Steal.ticks()
    val (r, ms) = timed(f)
    (r, ms, Steal.share(s0, Steal.ticks()))
  }

  private var heapPeak = 0.0
  /** Heap in use right after a full collection, in MB; the largest reading
    * is reported as `live_heap_peak_mb`. Read only between phases, so the
    * collection never lands inside a timed region.
    */
  protected def sampleHeap(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one (checkpointed and cached blocks of dead plans)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val mb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapPeak = math.max(heapPeak, mb)
  }

  protected def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Write `blocks` as one JSON-lines file, published by an atomic rename
    * so a reader never sees half a file. Returns its size in bytes.
    */
  protected def writeBlocks(blocks: Seq[RawBlock], path: String): Long = {
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(work, "staging", target.getFileName.toString)
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, blocks.map(ChainGen.toJson).mkString("", "\n", "\n"))
    val n = Files.size(tmp)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    n
  }

  protected def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Busy share of the cores and GC time over a traced window. */
  protected def sparkLayer(t0: Long, t1: Long, gc0: Long): Map[String, Double] = {
    val busy = trace.stagesIn(t0, t1).map(_.runMs).sum.toDouble
    Map("spark.cpu_busy_ratio" -> busy / math.max(1L, t1 - t0) / cores,
      "spark.gc_ms" -> (gcMs() - gc0).toDouble)
  }

  protected def latencyInfo(xs: Seq[Double]): Map[String, Any] = {
    val tail = Stats.tail(xs)
    Map("samples" -> xs.size, "p50" -> (if (xs.isEmpty) None else Some(Stats.median(xs))),
      "tail_percentile" -> tail.map(_._1), "tail" -> tail.map(_._2))
  }

  protected def heapPeakMb: Double = heapPeak
}

/** CPU time the hypervisor gave to other guests while this one wanted to
  * run ("steal" in `/proc/stat`). On a shared host it slows every phase
  * by a factor the program has no part in, so end-to-end times are
  * reported as wall time × (1 − stolen share): the stolen share is stolen
  * ticks over all busy ticks (user, nice, system, irq, softirq, steal) of
  * the interval. Where `/proc/stat` is unreadable the share is 0.
  */
object Steal {
  final case class Ticks(busy: Long, stolen: Long)

  def ticks(): Ticks = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    Ticks(f(0) + f(1) + f(2) + f(5) + f(6) + f(7), f(7))
  }.getOrElse(Ticks(0L, 0L))

  def share(from: Ticks, to: Ticks): Double = {
    val busy = to.busy - from.busy
    if (busy <= 0) 0.0 else math.min(1.0, math.max(0.0, (to.stolen - from.stolen).toDouble / busy))
  }
}
