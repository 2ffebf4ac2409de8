package graft.core

import org.apache.spark.sql.SparkSession

/** Session tuning shared by every entry point. Three settings are
  * load-bearing for iterative graph plans:
  *
  *  - `spark.sql.defaultSizeInBytes`: Spark's default for leaves with
  *    unknown size (e.g. `LogicalRDD` from localCheckpoint) is
  *    Long.MaxValue; the size-only stats visitor *multiplies* child sizes
  *    across join trees, so a join-heavy plan over checkpointed state
  *    produces BigInt statistics thousands of bits wide and planning time
  *    blows up in BigInteger.multiply (observed: a 200-node PLM run
  *    spending 20 min in Toom-Cook multiplication). 50 MB keeps the
  *    arithmetic in cheap territory while staying above the 10 MB broadcast
  *    threshold, so join-strategy choices are unchanged.
  *  - `spark.sql.maxPlanStringLength`: plan-string generation is invoked by
  *    listeners even with the UI off; bounded so deep iterative plans don't
  *    pay quadratic stringification.
  *  - `spark.sql.codegen.cache.maxEntries` (static, so it can only be set
  *    when the session is built — see [[builder]]): the JVM-wide LRU of
  *    janino-compiled generated classes. Spark's default is 100 entries, but
  *    one pass of the engine's loops generates more distinct classes than
  *    that: measured with perfbench on local[4], 174–180 classes per
  *    crawl→PageRank pass and 247–262 per CC + PLP + triangles pass. The
  *    LRU then hits 0% in steady state, so every pass recompiles every
  *    class (1.2–2.7 s of janino), HotSpot re-JITs them and the task
  *    threads run cold code: about a third of a pass's process CPU. 2000 is
  *    more than 4x the largest measured set, because Guava's segmented
  *    cache can evict before its nominal maximum. `CodegenCacheSpec` guards
  *    it: a repeated bounded CC + PLP + PageRank run compiles no new class.
  */
object Sessions {

  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheEntries = 2000
  /** Largest measured per-pass set of generated classes (see above). */
  val CodegenWorkingSet = 262

  /** Static confs every session graft builds carries. */
  private val staticConfs: Seq[(String, String)] = Seq(
    CodegenCacheConf -> CodegenCacheEntries.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A session builder on `master` carrying graft's static confs. Build
    * every session from here: static confs cannot be set later.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    staticConfs.foldLeft(SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.maxPlanStringLength", "65536")
    spark.conf.set("spark.sql.defaultSizeInBytes", (50L * 1024 * 1024).toString)
    undersizedCodegenCache(spark.conf.get(CodegenCacheConf).toInt)
      .foreach(msg => if (codegenWarned.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg))
    spark
  }

  private val codegenWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The warning for a session built elsewhere (e.g. by a driver calling
    * `SparkEntry`) whose codegen cache is smaller than graft's: `tune`
    * cannot raise a static conf, so it logs this once per JVM.
    */
  def undersizedCodegenCache(entries: Int): Option[String] =
    if (entries >= CodegenCacheEntries) None
    else Some(s"$CodegenCacheConf=$entries is below graft's " +
      s"$CodegenCacheEntries: one pass of graft's loops generates about " +
      s"$CodegenWorkingSet classes, so a smaller cache recompiles and " +
      s"re-JITs them on every pass. Set it when building the session.")

  /** Run `f` with AQE disabled, restoring the previous setting after.
    *
    * For tight iterative loops over localCheckpointed state: the plan is
    * identical every sweep, partitioning is pinned by design (inputs
    * pre-partitioned on the join key, hub fan-in absorbed by map-side
    * partial aggregation), and cardinalities are stable — AQE's per-stage
    * driver re-planning is then pure fixed overhead per iteration.
    * Measured (PageRank, 2M nodes / 9.66M edges, local[4]): 2.92-3.64 s/iter
    * with AQE vs 2.29-2.36 s/iter without. Because the cost is fixed driver
    * time, it is also the serial fraction that caps N→4N scaling
    * efficiency. One-shot queries keep AQE on (skew-join + coalescing earn
    * their keep there).
    *
    * Caveat: session confs are session-global, so a query PLANNED on this
    * session concurrently with the loop may plan without AQE (a perf
    * effect, never a value effect — nothing in the engine derives values
    * from the physical plan; `DenseId` pins its partitioning explicitly).
    * For heterogeneous concurrent workloads, give the loop its own
    * `spark.newSession()`.
    */
  def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Standard local session for CLI/bench entry points. */
  def build(cpus: String, appName: String = "graft"): SparkSession = {
    val s = builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
      .appName(appName)
      // AQE on by default (skew-join + runtime coalescing at scale); the
      // env override exists because AQE's per-stage driver re-planning is
      // measurable fixed overhead in tight iterative loops — ScalingBench
      // uses it to report the loop's parallel fraction honestly.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The IterationDriver intentionally unpersists superseded localCheckpoint
    // generations; each emits a scary-but-expected WARN from
    // MapPartitionsRDD that would otherwise dominate bench/verify logs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    tune(s)
  }
}
