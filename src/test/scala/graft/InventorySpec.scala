package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level invariants: SURVEY.md §2's coverage table,
  * `SparkEntry.queries` and `SparkEntry.oracleSql` can never drift
  * apart silently, every family-builder call site forwards the
  * strict/report valve, and library code persists nothing and holds
  * no object-level map outside the named exceptions. Pure
  * file/registry parsing — no SparkSession.
  */
class InventorySpec extends AnyFunSuite {

  /** A source line that is code, not a comment or scaladoc line. */
  private def code(line: String): Boolean = {
    val t = line.trim; !t.startsWith("*") && !t.startsWith("//")
  }

  private def surveySection2Keys: Set[String] = {
    val lines = Files.readAllLines(Paths.get("SURVEY.md")).asScala
    val start = lines.indexWhere(_.startsWith("## §2"))
    val end = lines.indexWhere(_.startsWith("## §3"), start + 1)
    assert(start >= 0 && end > start, "SURVEY.md must keep §2 before §3")
    val KeyRow = """^\| `([a-z][a-z0-9_]*)` \|.*""".r
    lines.slice(start, end).collect { case KeyRow(k) => k }.toSet
  }

  test("SURVEY §2 table keys == SparkEntry.queries keys == oracleSql keys") {
    val survey = surveySection2Keys
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(survey == queries,
      s"SURVEY §2 drifted from SparkEntry.queries — " +
        s"missing from SURVEY: ${(queries -- survey).toSeq.sorted.mkString(", ")}; " +
        s"stale in SURVEY: ${(survey -- queries).toSeq.sorted.mkString(", ")}")
    assert(oracles == queries,
      s"oracleSql drifted from queries — " +
        s"unoracled: ${(queries -- oracles).toSeq.sorted.mkString(", ")}; " +
        s"orphan oracle: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }

  test("valve parity: every family-builder call site FORWARDS the strict/report choice (r11 item 5)") {
    // The four collapse-family builders (sig/text/vec/sim) are the
    // only places a byte-identical family can explode into pairs;
    // each takes the `skipOversized` strict/report valve. This pins
    // that no call site in src/main hardcodes a mode: every call must
    // spell `skipOversized = skipOversized`, i.e. forward its own
    // caller's choice — so a new pair operator built on a family
    // either exposes the valve in its signature or fails here.
    // Audited r12 for completeness of the builder list: d8/d12's
    // window semi-joins never form a pair set (D·n window rows by
    // construction), and d10's batch-vs-corpus join is bounded by the
    // df-capped broadcast postings (the cap is part of the operator's
    // oracle-replayed semantics, not a silent skip) — so the explode
    // surface is exactly these builders.
    val builders = Seq("sigFamilies(", "textFamilies(", "vecFamilies(", "simFamilies(")
    val files = Files.walk(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    files.foreach { f =>
      val lines = Files.readAllLines(f).asScala
      lines.zipWithIndex.foreach { case (line, i) =>
        val t = line.trim
        builders.foreach { b =>
          if (line.contains(b) && !t.startsWith("*") && !t.startsWith("//") &&
              !line.contains("def " + b.stripSuffix("("))) {
            // the call expression may wrap — scan an 8-line window,
            // and match the forwarding as a regex so legitimate
            // spellings without spaces (skipOversized=skipOversized)
            // or wrapped past four lines don't fail spuriously
            // (ADVICE r12; still a textual proxy, but one that only
            // misses a forward routed through a renamed intermediate,
            // which code review owns)
            val window = lines.slice(i, i + 8).mkString(" ")
            if (!"skipOversized\\s*=\\s*skipOversized".r.findFirstIn(window).isDefined)
              offenders += s"$f:${i + 1} ${b.stripSuffix("(")}"
          }
        }
      }
    }
    assert(offenders.isEmpty,
      s"family-builder call sites not forwarding the valve choice:\n  " +
        offenders.mkString("\n  "))
  }

  test("library code persists nothing: no .persist( or .cache() outside the named exceptions") {
    // A persist inside an operator pins executor storage the caller
    // cannot see or release; operators share an intermediate through
    // exchange reuse within the plan they return instead. Exceptions,
    // by enclosing def:
    //  - Clusters.connectedComponents (over-limit edge frame) and
    //    Clusters.propagateMinLabel (loop state): each unpersists
    //    within the same call.
    val allowed = Set(
      "dedup/Clusters.scala" -> "connectedComponents",
      "dedup/Clusters.scala" -> "propagateMinLabel")
    val root = Paths.get("src/main/scala/graft")
    val Def = """.*\bdef (\w+).*""".r
    val Persist = """.*(\.persist\(|\.cache\(\)).*""".r
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.collect {
          case i if Persist.matches(lines(i)) && code(lines(i)) =>
            val enclosing = lines.take(i + 1).reverseIterator
              .collectFirst { case l @ Def(name) if code(l) => name }.getOrElse("?")
            (root.relativize(f).toString, enclosing, i + 1)
        }
      }
    val offenders = found.filterNot { case (f, d, _) => allowed((f, d)) }
    assert(offenders.isEmpty,
      s"persist/cache in library code (share through exchange reuse instead):\n  " +
        offenders.map { case (f, d, n) => s"$f:$n in $d" }.mkString("\n  "))
    // every exception is still live: a stale entry would silently
    // allow a new persist in a def that no longer needs one
    assert(allowed.subsetOf(found.map { case (f, d, _) => (f, d) }.toSet),
      s"stale exception: ${allowed -- found.map { case (f, d, _) => (f, d) }}")
  }

  test("operators keep no cross-call state: no object-level ConcurrentHashMap outside the named exceptions") {
    // A map held by an object outlives every call, so an operator that
    // memoizes into one answers from whatever ran earlier in the JVM
    // rather than from the frame it is given. Exceptions, by val name:
    //  - the Lake fixture lakes, one temp lake per testdata dir: they
    //    need a caller-owned lifetime before they can go;
    //  - Lake.commitClaims (commit synchronisation) and Lake.tempRoots
    //    (exit cleanup), which hold no results.
    val allowed = Set("lakeCache", "bucketCache", "evoCache", "backfillCache",
      "mergeCache", "compactCache", "wapCache", "manifestCache", "orphanCache",
      "occCache", "commitClaims", "tempRoots").map("sources/Lake.scala" -> _)
    val root = Paths.get("src/main/scala/graft")
    // an object member sits at the object body's two-space indent; the
    // initializer may open on the line after the `val`
    val Member = """^  (?:private(?:\[\w+\])? )?(?:lazy )?va[lr] (\w+)\b.*""".r
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.collect {
          case i if lines(i).contains("ConcurrentHashMap") && code(lines(i)) =>
            (root.relativize(f).toString,
              (lines(i) +: lines.lift(i - 1).toSeq).collectFirst { case Member(v) => v }, i + 1)
        }
      }
      .collect { case (f, Some(v), n) => (f, v, n) }
    val offenders = found.filterNot { case (f, v, _) => allowed((f, v)) }
    assert(offenders.isEmpty,
      s"object-level map in library code (derive from the frame within the call instead):\n  " +
        offenders.map { case (f, v, n) => s"$f:$n $v" }.mkString("\n  "))
    assert(allowed.subsetOf(found.map { case (f, v, _) => (f, v) }.toSet),
      s"stale exception: ${allowed -- found.map { case (f, v, _) => (f, v) }}")
  }
}
