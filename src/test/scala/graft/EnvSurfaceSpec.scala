package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_*` environment surface is a reviewed list: every
  * name that appears under `src/main/scala` must be one of these, each
  * with the reason it stays an env var. A new knob fails here until a
  * reviewed change lists it; a knob nothing sets should become a
  * constant instead. */
class EnvSurfaceSpec extends AnyFunSuite {
  private val Listed: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "every main's local[n] thread count and shuffle partitions",
    "SPARK_GRAFT_MASTER" -> "Verify, StateScaleProbe and ClusterCheck on a local-cluster master",
    "SPARK_GRAFT_EXECUTOR_MEM" -> "local-cluster executor heap where a main sets none",
    "SPARK_GRAFT_SF_DIR" -> "Bench's fixture directory, part of the driver's bench contract",
    "SPARK_GRAFT_MATERIALIZE" -> "PipelineDemo with every reuse point in durable table mode",
    "SPARK_GRAFT_SHUFFLE_OUT" -> "ShuffleProbe's consolidated JSON artifact path",
    "SPARK_GRAFT_SPILL_OUT" -> "SpillCheck's JSON artifact path",
    "SPARK_GRAFT_CLUSTER_OUT" -> "ClusterCheck's JSON artifact path",
    "SPARK_GRAFT_PLANGATE_OUT" -> "PlanGate's JSON artifact path",
    "SPARK_GRAFT_STATE_OUT" -> "StateScaleProbe's JSON artifact path",
    "SPARK_GRAFT_STATE_KEYS" -> "StateScaleProbe's key counts (the quick recipe runs 2000,20000)",
    "SPARK_GRAFT_STATE_EVENTS" -> "StateScaleProbe's events per run (the quick recipe runs 200000)",
    "SPARK_GRAFT_STATE_CHANGELOG" -> "StateScaleProbe's changelog vs full-snapshot commit A/B (SCALING.md)")

  test("every SPARK_GRAFT_* name under src/main/scala is listed with its reason") {
    val name = "SPARK_GRAFT_[A-Z_]+".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no sources found; the spec runs from the repository root")
    val found = files.flatMap(f => name.findAllIn(Files.readString(f))).toSet
    assert(found == Listed.keySet,
      s"unlisted: ${found.diff(Listed.keySet)}; listed but gone: ${Listed.keySet.diff(found)}")
  }
}
