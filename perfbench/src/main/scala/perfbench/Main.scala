package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** One timed operation's outcome. */
final case class Op(wallNs: Long, errors: Seq[String])

/** A workload: set-up, warm-up, then closed-loop operations from one
  * client thread.
  */
trait Workload {
  /** Build inputs and fixtures under `dir`. */
  def setup(dir: Path): Unit
  /** Untimed first operations that pay JIT and first-run costs; returns
    * their output-check failures.
    */
  def warmup(): Seq[String]
  def op(): Op
  /** Operations that form one round of the mix; the timed loop only
    * stops at a round boundary, so every run weighs the mix the same.
    */
  def round: Int = 1
  /** Per-layer metrics over the timed loop's operations (traced runs only). */
  def layers(ops: Seq[Op]): Map[String, Double]
  def close(): Unit = ()
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: Path, out: Path, launchMs: Long, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("dir")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m("launch-ms").toLong, m("cores").toInt)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1 max 0))
  }

  /** Live heap: heap in use after full collections, repeated until it
    * stops falling. Spark's context cleaner frees broadcast and cached
    * blocks only after a collection has found their handles unreachable,
    * so one collection can leave them counted.
    */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val first = Seq.fill(3)(collect())
    var (prev, cur) = (first(1), first(2))
    var rounds = 3
    while (cur < prev - 1.0 && rounds < 8) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** Highest heap occupancy after any collection, young or full, from
    * the collectors' notifications while `on` is set.
    */
  private final class GcPeak extends NotificationListener {
    @volatile var on = false
    @volatile var mb = 0.0
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(this, null, null))

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        mb = math.max(mb, used / 1048576.0)
      }

    def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The machine's iowait and steal clock ticks so far, from /proc/stat
    * (zeros where it does not exist).
    */
  private def hostWaitTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val cpu = Files.readAllLines(f).get(0).trim.split("\\s+")
      (cpu(5).toLong, cpu(8).toLong)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Write back dirty pages and finish pending discards now, outside
    * every timed operation: left to the kernel, the set-up's thousands of
    * written and deleted files are flushed about 30 s later, in the middle
    * of the timed loop.
    */
  private def flushDisk(): Unit = new ProcessBuilder("sync").inheritIO().start().waitFor()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.dir.resolve("spark-warehouse").toString)
      // graft.Bench's default posture: one shuffle partition per core,
      // AQE on with partition coalescing off.
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // Spark's status store keeps up to 1000 finished jobs, stages and SQL
      // executions even without a UI, so by default the live heap grew with
      // the number of operations a run fitted in (about 100 KB a query):
      // a faster build would have read as a larger heap.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startupS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val tr = new Tracer(spark.sparkContext, a.trace, s"${a.workload}-${a.seed}")
    val wl: Workload = a.workload match {
      case "etl_batch" => new EtlWorkload(spark, a.seed, tr)
      case "warehouse_queries" => new QueryWorkload(spark, a.seed, tr)
      case "stream_ingest" => new IngestWorkload(spark, a.seed, tr)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val s0 = System.nanoTime()
    wl.setup(a.dir.resolve("work"))
    val setupS = (System.nanoTime() - s0) / 1e9
    flushDisk()
    val w0 = System.nanoTime()
    val warmErrors = wl.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    flushDisk()
    val liveAfterWarmup = liveHeapMb()
    val gcPeak = new GcPeak
    gcPeak.on = true
    val loopStart = System.nanoTime()
    val deadline = loopStart + a.seconds * 1000000000L
    val ops = Seq.newBuilder[Op]
    val cpuMs = Seq.newBuilder[Double] // process CPU time of each operation, all threads
    val waits = Seq.newBuilder[(Long, Long)] // host iowait and steal ticks during each operation
    var n = 0
    while (n == 0 || System.nanoTime() < deadline || n % wl.round != 0) {
      val c0 = processCpuNs()
      val h0 = hostWaitTicks()
      ops += (try wl.op() catch {
        case e: Throwable => Op(0L, Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      })
      cpuMs += (processCpuNs() - c0) / 1e6
      val h1 = hostWaitTicks()
      waits += ((h1._1 - h0._1, h1._2 - h0._2))
      n += 1
    }
    val loop = ops.result()
    // A failed warm-up counts as one more failed, untimed operation.
    val all = (if (warmErrors.nonEmpty) Seq(Op(0L, warmErrors)) else Nil) ++ loop
    // Notifications arrive on their own thread, shortly after each collection.
    Thread.sleep(200)
    gcPeak.on = false
    gcPeak.close()
    val liveAfterLoop = liveHeapMb()
    val hostWaits = waits.result()
    val ok = all.filter(_.wallNs > 0)
    val lat = ok.map(_.wallNs / 1e6)
    val failed = all.count(_.errors.nonEmpty)
    all.flatMap(_.errors).distinct.take(10).foreach(e => System.err.println(s"FAILED: $e"))
    val e2e = Map(
      "setup_s" -> (startupS + setupS + warmS),
      "op_p50_ms" -> median(lat),
      "ops_per_s" -> ok.size / math.max(1e-9, lat.sum / 1e3),
      // The live set: sampled by full collections at the end of the warm-up
      // and of the timed loop, outside every timed operation (what set-up
      // builds is still live at both). Occupancy after the collections
      // inside the loop is gc_peak_heap_mb, a per-layer figure: it counts
      // garbage the old generation has not yet reclaimed.
      "live_heap_mb" -> math.max(liveAfterWarmup, liveAfterLoop))
    val layer =
      if (!a.trace) Map.empty[String, Double]
      else {
        val m = wl.layers(loop)
        m ++ Map("failed_ratio" -> failed.toDouble / all.size, "ops_attempted" -> all.size.toDouble,
          "op_p90_ms" -> percentile(lat, 0.9), "gc_peak_heap_mb" -> math.max(gcPeak.mb, liveAfterLoop))
      }
    wl.close()
    tr.close()
    val result = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "trace" -> (if (a.trace) "true" else "false"),
      "attempted" -> Json.num(all.size), "failed" -> Json.num(failed),
      "samples" -> Json.num(lat.size),
      "startup_s" -> Json.num(startupS), "setup_only_s" -> Json.num(setupS),
      "warmup_s" -> Json.num(warmS),
      "live_heap_mb" -> Json.arr(Seq(liveAfterWarmup, liveAfterLoop).map(Json.num)),
      "op_ms" -> Json.arr(lat.map(Json.num)),
      "op_cpu_ms" -> Json.arr(cpuMs.result().map(Json.num)),
      "op_host_iowait_ticks" -> Json.arr(hostWaits.map(w => Json.num(w._1.toDouble))),
      "op_host_steal_ticks" -> Json.arr(hostWaits.map(w => Json.num(w._2.toDouble))),
      "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> (if (a.trace) Tracer.spansJson(tr.all) else "[]")))
    Files.createDirectories(a.out.getParent)
    Files.write(a.out, result.getBytes("UTF-8"))
    spark.stop()
  }
}
