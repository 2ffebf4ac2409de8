package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.graftbenchshim.Bus

/** Benchmark process: one workload, one seed, one JVM.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cores C --dir D
  *
  * Set-up runs from JVM start to the start of the measured window: session,
  * input build, and one discarded warm-up pass (the sequential oracle's time
  * is left out). The measured window repeats the workload's pipeline for
  * `--seconds`. Every pass's outputs are checked. With `--trace 1` a
  * [[LayerListener]] is attached on alternate passes and per-layer medians
  * are reported, with the traced-minus-untraced pass time as the tracing
  * overhead. The last stdout line is the result JSON.
  */
object Main {

  final case class Pass(wallS: Double, cpuS: Double, attempted: Long,
                        failed: Long, metrics: Map[String, Double])

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(0.0)
    finally src.close()
  }

  private def json(m: Map[String, Any]): String = m.map { case (k, v) =>
    val s = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case mm: Map[_, _] => json(mm.asInstanceOf[Map[String, Any]])
      case xs: Seq[_] => xs.map {
        case d: Double => d.toString
        case o => "\"" + o + "\""
      }.mkString("[", ",", "]")
      case o => "\"" + o.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    "\"" + k + "\":" + s
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(
      Runtime.getRuntime.availableProcessors())
    val dir = new File(arg(args, "--dir").getOrElse(sys.error("--dir required")))

    // the bounded DenseId offset windows log a benign WARN per call
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val spark = graft.core.Sessions.build(cores.toString, "graftbench")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w = Workload(workload, spark, seed, dir)
    val p0 = System.nanoTime()
    w.prepare()
    val prepS = (System.nanoTime() - p0) / 1e9
    // the pinned input; everything else a pass caches is dropped after it
    val keep = sc.getPersistentRDDs.keySet.toSet
    val o0 = System.nanoTime()
    w.prepareOracle()
    val oracleS = (System.nanoTime() - o0) / 1e9
    System.err.println(f"[graftbench] t=${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs oracle ready")

    val listener = new LayerListener
    var attempted = 0L
    var failed = 0L
    def runPass(k: Int, withTrace: Boolean): Pass = {
      System.gc()
      if (withTrace) { listener.reset(); sc.addSparkListener(listener) }
      val t = new Tracer(sc, withTrace)
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      val out =
        try Some(w.pass(t, k))
        catch { case NonFatal(e) => e.printStackTrace(); None }
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = processCpuS() - cpu0
      val layer =
        if (withTrace) {
          Bus.drain(sc)
          sc.removeSparkListener(listener)
          listener.layerMetrics(t)
        } else Map.empty[String, Double]
      val checks = out match {
        case None => Seq("pass_completed" -> false)
        case Some(o) =>
          try o.checks() catch {
            case NonFatal(e) => e.printStackTrace(); Seq("checks_completed" -> false)
          }
      }
      val metrics =
        if (!withTrace) Map.empty[String, Double]
        else {
          val iter = out.map(o => try o.iterate() catch {
            case NonFatal(_) => Map.empty[String, Double]
          }).getOrElse(Map.empty[String, Double])
          // rows are counted from each layer's output, some while checking
          layer ++ iter ++ t.rows.map { case (l, n) => s"$l.rows" -> n.toDouble }
        }
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true)
      }
      Workload.deleteTree(new File(dir, s"out/pass-$k"))
      Workload.deleteTree(new File(dir, s"ck/pass-$k"))
      checks.filterNot(_._2).foreach { case (n, _) =>
        System.err.println(s"[graftbench] pass $k: check FAILED: $n")
      }
      val p = Pass(wallS, cpuS, t.attempted + checks.size,
        t.failed + checks.count(!_._2), metrics)
      attempted += p.attempted
      failed += p.failed
      System.err.println(f"[graftbench] t=${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs pass $k%d traced=$withTrace%s wall=${p.wallS}%.3fs " +
        f"cpu=${p.cpuS}%.3fs checks=${checks.size}%d failed=${p.failed}%d")
      p
    }

    val warm = runPass(0, withTrace = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - oracleS

    // measured window: whole passes (pairs when traced) until `seconds` is
    // used. The JIT is still settling after the warm-up pass, so later
    // passes run faster; traced runs take at least two pairs in opposite
    // orders, so the settling does not count against one side of the
    // overhead.
    val t0 = System.nanoTime()
    val plain = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val withT = scala.collection.mutable.ArrayBuffer.empty[Pass]
    var k = 1
    def measure(tr: Boolean): Unit = {
      val p = runPass(k, tr)
      k += 1
      if (tr) withT += p else plain += p
    }
    def more = (System.nanoTime() - t0) / 1e9 < seconds ||
      (if (traced) withT.size < 2 else plain.isEmpty)
    while (more) {
      if (!traced) measure(false)
      // alternate which member of a pair runs first
      else if (withT.size % 2 == 0) { measure(false); measure(true) }
      else { measure(true); measure(false) }
    }
    val rssMb = peakRssMb()

    val metrics: Map[String, (Double, String)] =
      if (!traced) Map(
        "setup_s" -> (setupS, "s"),
        "run_s" -> (Workload.median(plain.map(_.wallS).toSeq), "s"),
        "cpu_s" -> (Workload.median(plain.map(_.cpuS).toSeq), "s"),
        "peak_rss_mb" -> (rssMb, "MB"))
      else {
        val units: Map[String, String] =
          (for (l <- Layers.all; (m, u) <- Layers.metrics) yield s"$l.$m" -> u).toMap ++
            Layers.loopMetrics
        val layered = units.map { case (name, unit) =>
          name -> (Workload.median(withT.map(_.metrics.getOrElse(name, 0.0)).toSeq), unit)
        }
        val tracedRun = Workload.median(withT.map(_.wallS).toSeq)
        val plainRun = Workload.median(plain.map(_.wallS).toSeq)
        layered ++ Map(
          "trace.run_s" -> (tracedRun, "s"),
          "trace.untraced_run_s" -> (plainRun, "s"),
          "trace.overhead_s" -> (tracedRun - plainRun, "s"))
      }
    // counts the seed and the benchmark's caps fix (rows, iterations,
    // snapshots): the checks assert them, the traced run prints them here
    val invariants: Map[String, Any] =
      withT.lastOption.map(_.metrics.filter { case (n, _) => Layers.invariant(n) })
        .getOrElse(Map.empty)

    val info = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap" -> sys.props.getOrElse("graftbench.heap", ""),
      "commit" -> sys.props.getOrElse("graftbench.commit", ""),
      "source_sha" -> sys.props.getOrElse("graftbench.source", ""),
      "traced" -> traced, "size" -> w.sizeInfo, "invariants" -> invariants,
      "session_s" -> sessionS, "prepare_s" -> prepS, "oracle_s" -> oracleS,
      "warmup_s" -> warm.wallS,
      "pass_s" -> plain.map(_.wallS).toSeq,
      "traced_pass_s" -> withT.map(_.wallS).toSeq)
    println(json(Map("info" -> info)))
    println(json(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> Map[String, Any]("value" -> v, "unit" -> u)
      })))
    System.out.flush()
    spark.stop()
    System.err.println(f"[graftbench] t=${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs stopped")
  }
}
