package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** CI guard for SCALE.md's "Round-10 unpartitioned-window audit" table:
  * every `Window.orderBy(` site in src/main (i.e. a window WITHOUT a
  * partitionBy — the only window shape that funnels all rows into one
  * partition) is inventoried there with the bound that caps the sorted
  * frame (value-domain / calendar / degree-domain / block-frame /
  * constant). This spec pins the per-file occurrence counts — adding an
  * unpartitioned window (or removing one) without updating BOTH the
  * SCALE.md table and this map is a test failure, so an undocumented
  * corpus-scale global sort cannot merge silently. The partitioned form
  * `Window.partitionBy(...).orderBy(...)` is intentionally NOT counted:
  * its parallelism is the partition key's cardinality.
  */
class WindowAuditSpec extends AnyFunSuite {

  // file (relative to src/main/scala/graft) -> audited occurrence count;
  // keep in lockstep with the SCALE.md table
  private val audited = Map(
    "operators/TimeSeries.scala" -> 4,
    "operators/Aggregations.scala" -> 10,
    "operators/Graphs.scala" -> 1,
    "llm/Pipeline.scala" -> 7,
    "llm/Similarity.scala" -> 1,
    "llm/TextAnalysis.scala" -> 3,
    "api/GraftApi.scala" -> 1)

  test("every Window.orderBy site in src/main is inventoried in SCALE.md") {
    val root = Paths.get("src/main/scala/graft")
    val found = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val code = Files.readAllLines(p).asScala
          .filterNot { l =>
            val t = l.trim
            t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
          }
        val n = code.map("Window\\.orderBy\\(".r.findAllIn(_).length).sum
        root.relativize(p).toString -> n
      }
      .filter(_._2 > 0).toMap
    val newSites = found.filterNot { case (f, n) => audited.get(f).contains(n) }
    assert(newSites.isEmpty,
      s"unpartitioned Window.orderBy sites changed without an audit " +
        s"update: $newSites — classify each site's bound (value-domain / " +
        "calendar / degree-domain / block-frame / constant) in SCALE.md's " +
        "window-audit table, then update WindowAuditSpec")
    val gone = audited.filterNot { case (f, _) => found.contains(f) }
    assert(gone.isEmpty,
      s"audited window files no longer contain sites: $gone — " +
        "prune the SCALE.md table row and this map together")
  }
}
