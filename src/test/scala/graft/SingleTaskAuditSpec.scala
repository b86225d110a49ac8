package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** CI guard for SCALE.md's "Round-10 single-task audit" table: every
  * `coalesce(1)` site in src/main funnels a frame into ONE task, which
  * is only legitimate when the frame is bounded (a constant dim table,
  * a k-row index frame, a bounded staging slice) or the call sits below
  * a size gate whose above-cap twin is distributed (the *SingleTask
  * graph kernels, the DSU). This spec pins per-file occurrence counts —
  * the BroadcastAuditSpec / WindowAuditSpec recipe applied to the third
  * way a distributed plan can silently collapse to one machine. */
class SingleTaskAuditSpec extends AnyFunSuite {

  // file (relative to src/main/scala/graft) -> audited occurrence count;
  // keep in lockstep with the SCALE.md table
  private val audited = Map(
    "Verify.scala" -> 1,
    "streaming/StreamingQueries.scala" -> 1,
    "operators/Components.scala" -> 1,
    "operators/Scans.scala" -> 7,
    "operators/Graphs.scala" -> 12,
    "llm/Similarity.scala" -> 1)

  test("every coalesce(1) site in src/main is inventoried in SCALE.md") {
    val root = Paths.get("src/main/scala/graft")
    val found = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val code = Files.readAllLines(p).asScala
          .filterNot { l =>
            val t = l.trim
            t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
          }
        val n = code.map("coalesce\\(1\\)".r.findAllIn(_).length).sum
        root.relativize(p).toString -> n
      }
      .filter(_._2 > 0).toMap
    val newSites = found.filterNot { case (f, n) => audited.get(f).contains(n) }
    assert(newSites.isEmpty,
      s"coalesce(1) sites changed without an audit update: $newSites — " +
        "classify each site's bound (constant frame / size-gated kernel / " +
        "bounded staging slice) in SCALE.md's single-task audit table, " +
        "then update SingleTaskAuditSpec")
    val gone = audited.filterNot { case (f, _) => found.contains(f) }
    assert(gone.isEmpty,
      s"audited single-task files no longer contain sites: $gone — " +
        "prune the SCALE.md table row and this map together")
  }
}
