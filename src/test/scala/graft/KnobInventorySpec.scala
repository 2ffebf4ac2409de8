package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The inventory of run-time knobs: every `SPARK_GRAFT_*` environment
  * variable and `graft.*` system property that `src/main` reads. A knob
  * stays only if a recorded measurement justifies it, so adding one means
  * editing the lists below, in plain view in the diff.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val envKnobs = Set(
    "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_BENCH_NODES",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_KCORE_COMPACT",
    "SPARK_GRAFT_KCORE_VERBOSE",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_PLM_VERBOSE",
    "SPARK_GRAFT_SCC_VERBOSE",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SLOW4",
    "SPARK_GRAFT_VERIFY_ONLY")

  private val propKnobs = Set.empty[String]

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
}
