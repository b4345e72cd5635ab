package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._

/** Spark work counters attributed to one key: a span id, or a streaming
  * micro-batch id for jobs the stream thread launches.
  */
final class Work {
  var jobs = 0L
  var stages = 0L
  var stageRetries = 0L // stage attempts beyond the first
  var tasks = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L // read + written
  var spillBytes = 0L // memory + disk
  var gcMs = 0L

  def toMap: Map[String, Double] = Map("jobs" -> jobs, "stages" -> stages,
    "stage_retries" -> stageRetries, "tasks" -> tasks,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "gc_ms" -> gcMs).map { case (k, v) => k -> v.toDouble }
}

/** One traced call into a layer. `work` holds the Spark counters of the
  * jobs the call launched; `catalog` the file-listing counters that moved
  * while it ran.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long, work: Map[String, Double],
                      catalog: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and per-layer counters recorded from outside the library: a
  * SparkListener for job/stage/task work, the Hive catalog file-listing
  * counters read around each span, and wall-clock spans around every call
  * the benchmark makes into a layer. Jobs are attributed to the innermost
  * open span through a local property set around the call; jobs of a
  * streaming micro-batch through the `streaming.sql.batchId` property
  * Spark sets on them. A disabled tracer only runs the bodies.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String) {
  private val SpanKey = "perfbench.span"
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val work = new ConcurrentHashMap[String, Work]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  private def workOf(key: String): Work = work.computeIfAbsent(key, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val key = p.flatMap(x => Option(x.getProperty(SpanKey)))
        .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")).map("batch:" + _)))
        .getOrElse("none")
      e.stageIds.foreach(s => stageKey.put(s, key))
      workOf(key).synchronized(workOf(key).jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val w = workOf(stageKey.getOrDefault(e.stageInfo.stageId, "none"))
      w.synchronized {
        w.stages += 1
        if (e.stageInfo.attemptNumber() > 0) w.stageRetries += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageKey.getOrDefault(e.stageId, "none"))
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.inputBytes += m.inputMetrics.bytesRead
          w.outputBytes += m.outputMetrics.bytesWritten
          w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.gcMs += m.jvmGCTime
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def catalog(): Map[String, Double] = Map(
    "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "listing_jobs" -> HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount.toDouble,
    "file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble)

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(SpanKey)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val c0 = catalog()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        val c1 = catalog()
        sc.setLocalProperty(SpanKey, prevProp)
        stack = stack.tail
        spans += Span(id, name, parent, run, t0, t1,
          Option(work.get(id.toString)).map(_.toMap).getOrElse(new Work().toMap),
          c1.map { case (k, v) => k -> (v - c0(k)) })
      }
    }

  /** Work of the jobs a streaming micro-batch launched. */
  def batchWork(batchId: Long): Map[String, Double] = {
    drain()
    Option(work.get(s"batch:$batchId")).map(_.toMap).getOrElse(new Work().toMap)
  }

  /** Catalog counters as an opaque snapshot, for callers that bracket
    * work running on another thread (the stream) themselves.
    */
  def catalogNow(): Map[String, Double] = if (enabled) catalog() else Map.empty

  def all: Seq[Span] = spans.toSeq

  /** A span's own work plus that of every span nested inside it: jobs are
    * attributed to the innermost span only.
    */
  def totalWork(s: Span): Map[String, Double] = {
    val kids = spans.filter(_.parent == s.id)
    kids.foldLeft(s.work) { (acc, k) =>
      val kw = totalWork(k)
      acc.map { case (n, v) => n -> (v + kw.getOrElse(n, 0.0)) }
    }
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  def spansJson(spans: Seq[Span]): String =
    spans.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "run" -> Json.str(s.run),
        "start_ns" -> Json.num(s.startNs.toDouble), "end_ns" -> Json.num(s.endNs.toDouble),
        "work" -> Json.obj(s.work.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "catalog" -> Json.obj(s.catalog.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }.mkString("[", ",\n", "]")
}

/** The few JSON shapes the benchmark writes. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
