package graft.iterate

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Per-iteration record written to the checkpoint manifest — the north
  * rule's "per-partition lineage + metrics": `snapshot` names the state
  * parquet written for that iteration (per-partition files inside), `metric`
  * is the convergence scalar, `wallMs` the iteration wall time.
  */
final case class IterRecord(iter: Int, metric: Double, wallMs: Long,
                            rows: Long, snapshot: String)

/** A checkpoint manifest with an invalid record before valid ones: not a
  * write torn by a kill, which can only hit the last line.
  */
final class CorruptManifestException(msg: String)
    extends IllegalStateException(msg)

final case class IterConfig(
    tol: Double,
    maxIter: Int,
    /** write resumable state+manifest here; None = in-memory only */
    checkpointDir: Option[String] = None,
    /** disk-checkpoint every k iterations (and at convergence) */
    checkpointEvery: Int = 5)

object IterConfig {
  /** Production-tier preset (SURVEY.md §7.1): EVERY iteration snapshotted
    * to durable storage, so a killed run loses at most the in-flight
    * iteration. On a real cluster `dir` is an object-store/Iceberg path;
    * the per-iteration parquet write is one extra scan of the state table —
    * cheap relative to a multi-hour loop's re-run risk at 10^12-edge scale.
    */
  def production(tol: Double, maxIter: Int, dir: String): IterConfig =
    IterConfig(tol, maxIter, checkpointDir = Some(dir), checkpointEvery = 1)
}

final case class IterResult(state: DataFrame, iterations: Int,
                            history: Vector[IterRecord], resumedFrom: Int)

/** The convergence loop shared by PageRank, connected components, PLP,
  * weighted and dynamic SSSP, eigenvector, Katz, personalized PageRank and
  * coreness:
  *
  *   state₀ → step → state₁ → … until `metric(stateᵢ) <= tol` or maxIter.
  *
  * It is for fixpoints that rewrite a whole state each step; traversals
  * that only add their newest level run on [[FrontierLoop]].
  *
  * Responsibilities: exactly one state generation held at a time, lineage
  * truncation, resumable disk checkpoints (parquet state + JSONL manifest;
  * a snapshot is visible only after its manifest line is appended, so a
  * killed run resumes from the last complete iteration — the reference has
  * nothing like this, it reruns from scratch; at 10^12-edge scale
  * resumability is mandatory).
  *
  * In-sandbox the checkpoint store is a local directory; in production the
  * same layout maps to an Iceberg table partitioned by `iter` (SURVEY.md
  * §7.4.4 TableIO note) — the driver logic is storage-agnostic.
  */
object IterationDriver {

  /** Iterations composed into one Spark job by the algorithms that run on
    * this loop (see `run`). The unroll A/Bs in BASELINE.md (PageRank 1, 2
    * and 4; weighted SSSP 1 and 4) picked 4.
    */
  val DefaultUnroll: Int = 4

  private def manifestPath(dir: String) = Paths.get(dir, "manifest.jsonl")

  private val manifestFields = Seq("iter", "metric", "wall_ms", "rows", "snapshot")

  /** One manifest line as written by `appendManifest`, or None when it is
    * not a complete record: a field missing, unparsable, or no closing
    * brace (a write torn by a kill).
    */
  private def parseRecord(line: String): Option[IterRecord] = {
    // minimal fixed-shape JSON parse (we wrote it)
    def field(name: String): Option[String] = {
      val key = "\"" + name + "\":"
      val i = line.indexOf(key)
      if (i < 0) None
      else {
        val rest = line.substring(i + key.length)
        if (rest.startsWith("\"")) {
          val end = rest.indexOf('"', 1)
          if (end < 0) None else Some(rest.substring(1, end))
        } else {
          val v = rest.takeWhile(c => c != ',' && c != '}')
          if (v.length == rest.length) None else Some(v)
        }
      }
    }
    if (!line.trim.endsWith("}")) None
    else manifestFields.map(field) match {
      case Seq(Some(i), Some(m), Some(w), Some(r), Some(snap)) =>
        scala.util.Try(IterRecord(i.toInt, m.toDouble, w.toLong, r.toLong, snap))
          .toOption
      case _ => None
    }
  }

  /** The manifest's records. A torn last line — the run was killed while
    * appending it — is skipped, so a resume starts from the last complete
    * record; an invalid line followed by valid ones is corruption and
    * throws [[CorruptManifestException]].
    */
  def readManifest(dir: String): Vector[IterRecord] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) Vector.empty
    else {
      val lines = Files.readAllLines(p).asScala.toVector.filter(_.nonEmpty)
      val recs = lines.map(parseRecord)
      recs.indexWhere(_.isEmpty) match {
        case -1 => recs.flatten
        case i if i == recs.length - 1 => recs.init.flatten
        case i => throw new CorruptManifestException(
          s"$p: line ${i + 1} of ${recs.length} is not a complete record " +
            s"but later lines are: '${lines(i).take(200)}'")
      }
    }
  }

  private def appendManifest(dir: String, r: IterRecord): Unit = {
    Files.createDirectories(Paths.get(dir))
    val line = s"""{"iter":${r.iter},"metric":${r.metric},"wall_ms":${r.wallMs},"rows":${r.rows},"snapshot":"${r.snapshot}"}""" + "\n"
    Files.write(manifestPath(dir), line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Latest complete snapshot in `dir`, if any. The manifest is cut so it
    * ends at that snapshot's record (or is emptied when there is none):
    * the resumed run appends the iterations after it, so records past it —
    * and a torn last line — would otherwise appear twice or be glued onto
    * the next record. The file is rewritten only when there is something
    * to cut.
    */
  def latestSnapshot(spark: SparkSession, dir: String): Option[(Int, DataFrame)] = {
    val p = manifestPath(dir)
    val recs = readManifest(dir)
    val keep = recs.lastIndexWhere(_.snapshot.nonEmpty) + 1
    if (Files.exists(p)) {
      val lines = Files.readAllLines(p).asScala.toVector.filter(_.nonEmpty)
      if (lines.length > keep)
        Files.write(p, lines.take(keep).map(_ + "\n").mkString.getBytes("UTF-8"))
    }
    recs.take(keep).lastOption.map(r => (r.iter, spark.read.parquet(r.snapshot)))
  }

  /** Run the loop. `step(state, iter)` produces the next state;
    * `metricAgg(next)` is the convergence metric as a 1-row GLOBAL
    * aggregate over the new state alone — exactly ONE column and exactly
    * ONE row (an ungrouped aggregate; PageRank carries `prev` in the state
    * for exactly this). Both halves of the contract are asserted at
    * runtime: a multi-column aggregate fails the per-hop column check, a
    * grouped (multi-row) one fails the collected-row-count check — neither
    * can silently become a wrong convergence decision. Convergence when
    * `metric <= tol`; a null metric (empty state) reads as 0.0. If
    * `cfg.checkpointDir` holds a previous run's manifest, resumes from its
    * last snapshot (warm start).
    *
    * Every state is `localCheckpoint`ed: its logical plan is truncated to
    * a flat `LogicalRDD`. Without this, iterative plans nest one
    * `InMemoryRelation`/`AdaptiveSparkPlanExec` per iteration and both
    * re-analysis and plan-string generation go super-linear (the
    * well-known iterative-lineage blowup — SURVEY.md §7.4.3); with it,
    * every iteration's plan is flat and planning cost is O(1) in the
    * iteration number. AQE is off inside the loop (restored on exit) — see
    * `Sessions.withoutAqe` for the rationale and measurements.
    *
    * `unroll` composes up to that many steps into ONE Spark job per loop
    * pass. At bench scale the per-iteration wall is roughly half
    * fixed driver overhead — one job round-trip to materialize the state
    * plus one to read the convergence scalar. Each intermediate hop of a
    * group is lazily local-checkpointed (the plan truncates to a flat
    * `LogicalRDD` immediately; the data materializes and caches when the
    * enclosing job first computes through it), only the LAST hop is
    * checkpointed eagerly (the group's one chain job), then all k
    * convergence scalars are read from the cached states in one cheap
    * second action: k materializations + k metrics ride two job
    * submissions instead of 2k. `unroll = 1` is the eager
    * per-iteration schedule: every state materializes in its own job,
    * followed by its metric read.
    *
    * Requirement on `step`: the plan it returns should contain each
    * intermediate result once. Several stages may read the same hop: the
    * stages upstream of a hop belong to its one lineage and run once, and a
    * reader that reaches a hop partition while another computes it waits
    * on Spark's per-block write lock and then reads the cached block. What
    * repeats work is a sub-plan that appears several times in the step's
    * plan (one DataFrame referenced from several branches): each copy
    * plans to stages of its own and runs in full. Values stay exact, only
    * the work grows (BASELINE.md has the stage listing of a PLP step that
    * referenced its vote three times).
    *
    * Every `unroll` gives the same values hop for hop (a lazy checkpoint
    * changes scheduling, not data), and convergence is detected at the
    * FIRST hop whose metric ≤ tol, so the reported iteration count and the
    * returned state do not depend on `unroll`; hops computed past
    * convergence inside the final group are freed, never observed. Groups
    * never cross a disk-checkpoint boundary (a group is clamped so
    * snapshots land at every multiple of `checkpointEvery` and at
    * convergence, whatever `unroll`), so a manifest written under one
    * `unroll` resumes under another; with `checkpointEvery = 1` (the
    * production preset) every group is one hop. Per-hop manifest records
    * carry the group wall divided evenly across its hops (the amortized
    * per-iteration figure), with the division remainder assigned to the
    * group's last hop so the summed wallMs equals the true group wall.
    */
  def run(spark: SparkSession, init: => DataFrame,
          step: (DataFrame, Int) => DataFrame,
          metricAgg: DataFrame => DataFrame,
          cfg: IterConfig, unroll: Int): IterResult = {
    require(unroll >= 1, s"unroll must be >= 1, got $unroll")
    graft.core.Sessions.withoutAqe(spark)(loop(spark, init, step, metricAgg, cfg, unroll))
  }

  private def loop(spark: SparkSession, init: => DataFrame,
          step: (DataFrame, Int) => DataFrame,
          metricAgg: DataFrame => DataFrame,
          cfg: IterConfig, unroll: Int): IterResult = {
    import org.apache.spark.sql.functions.{col, lit}

    val resumed = cfg.checkpointDir.flatMap(latestSnapshot(spark, _))
    val startIter = resumed.map(_._1).getOrElse(0)
    var state = resumed.map(_._2).getOrElse(init).transform(graft.core.Materialize.checkpoint)
    var history = Vector.empty[IterRecord]

    var iter = startIter
    var converged = false
    while (!converged && iter < cfg.maxIter) {
      val t0 = System.nanoTime()
      // hops until the next disk-checkpoint boundary: a group never
      // crosses a multiple of checkpointEvery.
      val toBoundary = cfg.checkpointDir
        .map(_ => cfg.checkpointEvery - (iter % cfg.checkpointEvery))
        .getOrElse(Int.MaxValue)
      val k = math.max(1, math.min(math.min(unroll, cfg.maxIter - iter), toBoundary))

      val hops = new scala.collection.mutable.ArrayBuffer[DataFrame](k)
      var s = state
      for (j <- 1 to k) {
        // intermediate hops: LAZY checkpoint (plan truncates now, data
        // caches when the chain job first computes through them);
        // final hop: EAGER — its materialization is the one chain job of
        // the group.
        val hop = step(s, iter + j)
        s =
          if (j < k) hop.transform(graft.core.Materialize.checkpointLazy)
          else hop.transform(graft.core.Materialize.checkpoint)
        hops += s
      }
      // second (cheap) action: every hop's 1-row metric, all reading the
      // now-cached hop states.
      val mrows = hops.zipWithIndex.map { case (h, j) =>
        val agg = metricAgg(h)
        require(agg.columns.length == 1,
          s"metricAgg must return exactly one column (the metric); " +
            s"got ${agg.columns.mkString("[", ",", "]")}")
        agg.select(lit(j).as("_hop"), col(agg.columns.head).cast("double").as("_m"))
      }.reduce(_ unionByName _).collect()
      require(mrows.length == k,
        s"metricAgg must be a 1-row (ungrouped) aggregate; " +
          s"$k hops produced ${mrows.length} metric rows")
      val ms: Array[Double] = {
        // a null aggregate (empty state) reads as 0.0 = converged
        val byHop = mrows.map(r =>
          r.getInt(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
        Array.tabulate(k)(byHop)
      }

      val hitIdx = ms.indexWhere(_ <= cfg.tol)
      converged = hitIdx >= 0
      val used = if (converged) hitIdx + 1 else k
      // overshoot hops inside the final group were computed but are never
      // observed — free and forget them
      for (j <- used until k) graft.core.Materialize.free(hops(j))

      var next = hops(used - 1)
      val doCheckpoint = cfg.checkpointDir.isDefined &&
        (converged || (iter + used) % cfg.checkpointEvery == 0)
      var snapshot = ""
      if (doCheckpoint) {
        val dir = cfg.checkpointDir.get
        snapshot = s"$dir/state/iter=${"%05d".format(iter + used)}"
        next.write.mode("overwrite").parquet(snapshot)
        graft.core.Materialize.free(next)
        // reload: resume-from-disk ≡ continue-in-memory, bit-identical
        next = spark.read.parquet(snapshot).transform(graft.core.Materialize.checkpoint)
      }
      for (j <- 0 until used - 1) graft.core.Materialize.free(hops(j))
      graft.core.Materialize.free(state)
      val groupWall = (System.nanoTime() - t0) / 1000000
      for (j <- 0 until used) {
        // per-hop walls are the amortized group wall; the integer-division
        // remainder rides the LAST hop so summed wallMs equals the group wall
        val hopWall = groupWall / used +
          (if (j == used - 1) groupWall % used else 0L)
        val rec = IterRecord(iter + j + 1, ms(j), hopWall, -1L,
          if (j == used - 1) snapshot else "")
        history :+= rec
        cfg.checkpointDir.foreach(appendManifest(_, rec))
      }
      iter += used
      state = next
    }
    IterResult(state, iter - startIter, history, startIter)
  }
}
