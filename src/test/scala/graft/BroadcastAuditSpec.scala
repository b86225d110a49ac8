package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** CI guard for SCALE.md's "Round-8 broadcast audit" table: every
  * `broadcast(` occurrence in src/main is inventoried there with the bound
  * that justifies it (constant taxonomy, 1-row total, declared strategy, or
  * a U.sizeGate dispatch). This spec pins the per-file occurrence counts —
  * adding a broadcast site (or removing one) without updating BOTH the
  * SCALE.md table and this map is a test failure, so an undocumented,
  * potentially unbounded broadcast cannot merge silently.
  */
class BroadcastAuditSpec extends AnyFunSuite {

  // file (relative to src/main/scala/graft) -> audited occurrence count;
  // keep in lockstep with the SCALE.md table
  private val audited = Map(
    // U.scala's sizeGate references the bare `broadcast` function value
    // (no call parens), so it is intentionally absent from this map
    "PrProfile.scala" -> 1,
    "api/GraftApi.scala" -> 7,
    "operators/TimeSeries.scala" -> 25,
    "operators/Aggregations.scala" -> 85,
    "operators/Graphs.scala" -> 21,
    "operators/Joins.scala" -> 2,
    "operators/Scans.scala" -> 2,
    "operators/TypedApi.scala" -> 1,
    "llm/Pipeline.scala" -> 29,
    "llm/Similarity.scala" -> 34,
    "llm/Dedup.scala" -> 2,
    "llm/Multimodal.scala" -> 1,
    "llm/TextAnalysis.scala" -> 25,
    "streaming/StreamingQueries.scala" -> 9)

  test("every broadcast() site in src/main is inventoried in SCALE.md") {
    val root = Paths.get("src/main/scala/graft")
    val found = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val code = Files.readAllLines(p).asScala
          .filterNot { l =>
            val t = l.trim
            t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
          }
        val n = code.map("broadcast\\(".r.findAllIn(_).length).sum
        root.relativize(p).toString -> n
      }
      .filter(_._2 > 0).toMap
    val newSites = found.filterNot { case (f, n) => audited.get(f).contains(n) }
    assert(newSites.isEmpty,
      s"broadcast() sites changed without an audit update: $newSites — " +
        "classify each site's bound (or gate it via U.sizeGate) in " +
        "SCALE.md's broadcast-audit table, then update BroadcastAuditSpec")
    val gone = audited.filterNot { case (f, _) => found.contains(f) }
    assert(gone.isEmpty,
      s"audited broadcast files no longer contain sites: $gone — " +
        "prune the SCALE.md table row and this map together")
  }
}
