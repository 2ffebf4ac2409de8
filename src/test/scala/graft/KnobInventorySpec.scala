package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The inventory of run-time knobs and entry points: every `SPARK_GRAFT_*`
  * environment variable and `graft.*` system property that `src/main`
  * reads, and every object with a `main`. A knob or a main stays only if a
  * recorded measurement or a user justifies it, so adding one means editing
  * the lists below, in plain view in the diff.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val envKnobs = Set(
    "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_BENCH_NODES",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_PLM_VERBOSE",
    "SPARK_GRAFT_SCC_VERBOSE",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_VERIFY_ONLY")

  private val propKnobs = Set.empty[String]

  /** Objects that define `def main(`, named relative to package `graft`. */
  private val entryPoints = Seq(
    "Bench", "ScalingBench", "SkewBench", "Verify", "cli.Explain", "cli.Main")

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
  }

  private def found(pattern: scala.util.matching.Regex): Set[String] =
    sources.flatMap { p =>
      pattern.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet

  test("src/main reads exactly the listed SPARK_GRAFT_* environment variables") {
    assert(found("""(SPARK_GRAFT_[A-Z0-9_]+)""".r) == envKnobs)
  }

  test("src/main reads exactly the listed graft.* system properties") {
    assert(found("""sys\.props(?:\.get)?\(\s*"(graft\.[^"]*)"""".r) == propKnobs)
  }

  test("src/main defines exactly the listed entry points") {
    val objectDecl = """(?m)^\s*(?:(?:private|final|case)\s+)*object\s+(\w+)""".r
    val mains = sources.flatMap { p =>
      val text = Files.readString(p)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(text)
        .map(_.group(1)).getOrElse("")
      val prefix = pkg.stripPrefix("graft").stripPrefix(".") match {
        case "" => ""
        case sub => sub + "."
      }
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      // each main belongs to the nearest object declared above it
      """def main\(""".r.findAllMatchIn(text).flatMap(m =>
        objects.filter(_._1 < m.start).lastOption.map(prefix + _._2))
    }
    assert(mains.sorted == entryPoints.sorted)
  }
}
