package graftbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layers the benchmark times, named after the engine's modules. */
object Layers {
  val all: Seq[String] = Seq(
    "ingest.extract_text", "ingest.links", "core.dense_id",
    "ingest.link_graph", "sources.write_parquet", "algo.pagerank",
    "algo.ranking", "algo.cc", "algo.plp", "algo.triangles")

  /** Per-layer metrics with their units, in print order. */
  val metrics: Seq[(String, String)] = Seq(
    "s" -> "s", "self_s" -> "s", "driver_gap_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "exec_cpu_s" -> "s", "shuffle_write_mb" -> "MB",
    "shuffle_read_mb" -> "MB", "spill_mb" -> "MB", "task_skew" -> "ratio")

  /** Loop metrics read from outside the loop (result histories and the
    * checkpoint dir), with their units.
    */
  val loopMetrics: Map[String, String] = Map(
    "iterate.pagerank.iter_ms_p50" -> "ms",
    "iterate.pagerank.iter_ms_max" -> "ms",
    "iterate.pagerank.loop_s" -> "s",
    "iterate.pagerank.preloop_s" -> "s",
    "iterate.plp.iter_ms_p50" -> "ms",
    "iterate.checkpoint.mb" -> "MB",
    "iterate.resume_s" -> "s",
    "algo.pagerank.eps_per_iter" -> "1/s")

  /** Per-pass counts that the seed and the benchmark's iteration caps fix:
    * `<layer>.rows`, counted from each layer's output, and the loops'
    * iteration and snapshot counts. The output checks assert them, so they
    * are printed with the run's info rather than reported as metrics.
    */
  def invariant(name: String): Boolean = name.endsWith(".rows") || Set(
    "iterate.pagerank.iterations", "iterate.plp.iterations",
    "iterate.checkpoint.snapshots")(name)
}

/** Local property that carries the innermost open span to Spark jobs. */
object SpanKey { val name = "graftbench.span" }

/** One finished call into a layer: wall interval and the part of it that
  * child spans covered.
  */
final case class SpanCall(name: String, startNs: Long, endNs: Long,
                          endMs: Long, childNs: Long) {
  def ns: Long = endNs - startNs
  def selfNs: Long = ns - childNs
}

/** Spans around the benchmark's calls into the engine. Every call is timed
  * and counted as attempted; a call that throws counts as failed once, at
  * the innermost span. With `traced`, the span name also rides every Spark
  * job the call submits (as a local property), so a [[LayerListener]] can
  * attribute task metrics to it.
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private final class Frame(val name: String) { var childNs = 0L }
  private var stack = List.empty[Frame]
  private val counted = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
  val calls = mutable.ArrayBuffer.empty[SpanCall]
  val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var attempted = 0L
  var failed = 0L

  def span[T](name: String)(f: => T): T = {
    attempted += 1
    val prev = sc.getLocalProperty(SpanKey.name)
    if (traced) sc.setLocalProperty(SpanKey.name, name)
    val frame = new Frame(name)
    stack = frame :: stack
    val t0 = System.nanoTime()
    try f
    catch {
      case e: Throwable =>
        if (counted.add(e)) failed += 1
        throw e
    } finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption.foreach(_.childNs += t1 - t0)
      calls += SpanCall(name, t0, t1, System.currentTimeMillis(), frame.childNs)
      if (traced) sc.setLocalProperty(SpanKey.name, prev)
    }
  }

  def addRows(name: String, n: Long): Unit = rows(name) += n
}

/** Sums Spark task metrics per span, keyed by the span local property the
  * [[Tracer]] sets. Counters are attributed to the innermost span.
  */
final class LayerListener extends SparkListener {
  final class StageAcc {
    var tasks = 0L
    var durMs = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  final class SpanAcc {
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val stages = mutable.Map.empty[Int, StageAcc]
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val jobSpan = mutable.Map.empty[Int, (String, Long)]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val acc = mutable.Map.empty[String, SpanAcc]

  private def spanOf(p: Properties): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(SpanKey.name)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) =>
      acc.getOrElseUpdate(s, new SpanAcc).jobs += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = acc.getOrElseUpdate(s, new SpanAcc)
      val st = a.stages.getOrElseUpdate(e.stageId, new StageAcc)
      val d = e.taskInfo.duration
      st.tasks += 1
      st.durMs += d
      st.durations += d
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    }
  }

  def reset(): Unit = synchronized {
    jobSpan.clear(); stageSpan.clear(); acc.clear()
  }

  /** Per-layer metrics of one traced pass. Call after draining the bus. */
  def layerMetrics(t: Tracer): Map[String, Double] = synchronized {
    Layers.all.flatMap { layer =>
      val calls = t.calls.filter(_.name == layer)
      val a = acc.getOrElse(layer, new SpanAcc)
      val selfNs = calls.map(_.selfNs).sum
      // job time inside the span's own (non-child) intervals
      val busyMs = LayerListener.unionMs(a.jobs.toSeq)
      val gap = if (calls.isEmpty) 0.0 else math.max(0.0, selfNs / 1e9 - busyMs / 1e3)
      val tasks = a.stages.values.map(_.tasks).sum
      // skew of the heaviest stage: max over median task duration
      val skew = a.stages.values.filter(_.tasks >= 2).maxByOption(_.durMs)
        .map { st =>
          val d = st.durations.sorted
          d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble
        }.getOrElse(if (tasks > 0) 1.0 else 0.0)
      val v = Map(
        "s" -> calls.map(_.ns).sum / 1e9,
        "self_s" -> selfNs / 1e9,
        "driver_gap_s" -> gap,
        "jobs" -> a.jobs.size.toDouble,
        "tasks" -> tasks.toDouble,
        "exec_cpu_s" -> a.cpuNs / 1e9,
        "shuffle_write_mb" -> a.shuffleWrite / 1e6,
        "shuffle_read_mb" -> a.shuffleRead / 1e6,
        "spill_mb" -> a.spill / 1e6,
        "task_skew" -> skew)
      Layers.metrics.map { case (m, _) => s"$layer.$m" -> v(m) }
    }.toMap
  }
}

object LayerListener {
  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
