package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules for `src/main/scala`: sessions come from one factory,
  * and the `spark.graft.*` conf surface stays the six kept keys.
  */
class SourceLintSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("lint: SparkSession.builder() only in GraftSession and ClusterSmoke") {
    // ClusterSmoke needs SparkContext-level executor confs
    // (local-cluster, spark.executor.*) that GraftSession.create cannot carry
    val allowed = Set("GraftSession.scala", "ClusterSmoke.scala")
    assert(sources.nonEmpty)
    val offenders = sources.collect {
      case (p, src) if src.contains("SparkSession.builder()") &&
          !allowed.contains(p.getFileName.toString) => p.toString
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("lint: spark.graft.* conf literals name only the kept keys") {
    val kept = Set("scratchDir", "stagingDir", "spanSaMaxLen",
      "budgetFillTwoPass", "rewriteTop1PerGroup",
      "streaming.statePartitions")
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]*)".r
    val found = sources.flatMap { case (_, src) =>
      key.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(found.nonEmpty)
    assert(found.subsetOf(kept), (found -- kept).mkString(", "))
  }
}
