package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Reachability sweep over the operator surface, by source scan (no Spark
  * session): every package-visible `def` of `graft.operators`, `etl`,
  * `streaming`, `functions`, `sources` and `util` must be reached from a
  * registered query, a main, `Tables` or a perfbench op, or carry a
  * committed verdict below.
  *
  * The scan splits `src/main` into top-level members (each member of a
  * top-level object, class or trait; comments stripped) and closes over
  * identifier names from the roots: a member is reached when its name
  * occurs in reached text. It matches by name, so a collision can only
  * over-count reach; it never flags a def that is reached. `override`
  * members are reached with their owner, not by name (the framework
  * calls them). Plain `private` and `protected` defs are not scanned;
  * qualified ones (`private[graft]`, `private[operators]`) are, since
  * other files can call them. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  test("every unreached operator def has a committed verdict, and no verdict is stale") {
    val unreached = scan().filterNot(_.reached).map(_.key).toSet
    val listed = allowList.map(_.key).toSet
    assert(allowList.size == listed.size, "duplicate allow-list entries")
    val missing = unreached -- listed
    val stale = listed -- unreached
    assert(missing.isEmpty && stale.isEmpty,
      s"\nunreached with no verdict (register a query that uses it, delete it, or add a verdict): " +
        s"${missing.toSeq.sorted.mkString(", ")}" +
        s"\nverdicts for defs that are gone or now reached (drop the entry): " +
        s"${stale.toSeq.sorted.mkString(", ")}")
  }

  test("verdicts match visibility: references and spec tools are package-private, paper API is public") {
    val byKey = scan().groupBy(_.key)
    allowList.foreach { a =>
      byKey.get(a.key).foreach { defs =>
        val qualified = defs.forall(_.mods.contains("private["))
        a.verdict match {
          case Verdict.PaperApi => assert(!qualified, s"${a.key}: paper API must stay public")
          case _ => assert(qualified, s"${a.key}: a ${a.verdict} must be private[graft] or narrower")
        }
      }
    }
  }
}

object ReachabilitySpec {
  sealed trait Verdict
  object Verdict {
    /** A spec compares a reached operator against it. */
    case object Reference extends Verdict
    /** A spec drives or measures a reached operator through it. */
    case object SpecTool extends Verdict
    /** A reference-app behaviour the paper's ETL surface reproduces. */
    case object PaperApi extends Verdict
  }
  import Verdict._

  final case class Allowed(key: String, verdict: Verdict, reason: String)

  val allowList: Seq[Allowed] = Seq(
    Allowed("Windows.sessionsViaLag", Reference,
      "lag formulation WindowsSpec checks Windows.sessions (session_window) against"),
    Allowed("Analytics.gapFillDaily", Reference,
      "one-window LOCF that AnalyticsSpec checks gapFillDailySegmented against"),
    Allowed("Analytics.cusumWarmup", Reference,
      "batch twin EventStreamSpec checks st17's streaming CUSUM cells against, digit for digit"),
    Allowed("Layout.meanExtent", SpecTool,
      "file-clustering measure LayoutSpec reads off zorderBy's output"),
    Allowed("SessionStream.useRocksDbStateStore", SpecTool,
      "switches the state store for the RocksDB runs of SessionStreamSpec and EventStreamSpec"),
    Allowed("Graph.orientedWedges", SpecTool,
      "wedge list GraphSpec counts to show degree orientation bounds hub skew in triangleCount"),
    Allowed("Load.apiEnvelope", PaperApi,
      "K1 JSON API envelope {users, metrics, fallbackUsed, sourceUrl, fetchedAt} (SURVEY.md:106)"),
    Allowed("Load.errorEnvelope", PaperApi,
      "K1 500 error body (SURVEY.md:106)"),
    Allowed("Load.methodNotAllowed", PaperApi,
      "K1 405 on a non-POST (SURVEY.md:106)"),
    Allowed("Load.previewJson", PaperApi,
      "K3 pretty JSON preview of the first 10 rows (SURVEY.md:108)"),
    Allowed("Load.parquetManifest", PaperApi,
      "manifest half of z2's planned compaction, the input Layout.compactionPlan bins (SURVEY.md:285, 757-762)"),
    Allowed("Load.executeCompaction", PaperApi,
      "executes z2's compaction plan per partition, crash-recoverable (SURVEY.md:757-762, 827)"),
    Allowed("Extract.sourcesIsolated", PaperApi,
      "S2 per-source failure isolation: a failing endpoint degrades to empty (SURVEY.md:97)"),
    Allowed("Extract.pointWithFallback", PaperApi,
      "J4 point lookup with a two-level fallback source chain (SURVEY.md:133)"),
    Allowed("Extract.fallbackMetrics", PaperApi,
      "S3/S4 literal fallback metrics row (SURVEY.md:98-99)"),
    Allowed("Metrics.withFallback", PaperApi,
      "A8 zero-row fallback to the mock metrics (SURVEY.md:150)"),
    Allowed("Pipeline.totalDurationSec", PaperApi,
      "A7 duration_sec measured around the run instead of the reference's constant (SURVEY.md:149)"),
    Allowed("MinHashAggregator.hash2", PaperApi,
      "permutation of the typed MinHash Aggregator, the near-dup form SURVEY.md:216 names"))

  /** Packages whose defs are swept, relative to `src/main/scala`. */
  val sweptDirs: Seq[String] = Seq("operators", "etl", "streaming", "functions", "sources", "util")
    .map(p => s"graft/$p/")
  /** Files read whole as roots: the mains, `SparkEntry` and `Tables`. */
  val rootFiles: Set[String] = Set("Bench", "Verify", "Smoke", "Tool", "SparkEntry", "Tables")
    .map(n => s"graft/$n.scala")
  val harness: Path = Paths.get("perfbench/src/main/scala/perfbench/Harness.scala")

  final case class Member(file: String, owner: String, name: String, kind: String,
                          mods: String, text: String, reached: Boolean = false) {
    def key: String = s"$owner.$name"
    def candidate: Boolean = kind == "def" && !mods.contains("override") &&
      PlainPrivate.findFirstIn(mods).isEmpty && sweptDirs.exists(file.startsWith)
  }

  private val Top = """^(?:(?:final|sealed|abstract|case|implicit|private\[\w+\])\s+)*(?:package\s+)?(object|class|trait)\s+(\w+).*""".r
  private val MemberStart =
    """^  ((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|lazy\s+|case\s+|sealed\s+|abstract\s+|@\w+\s+)*)(def|val|var|object|class|trait|type)\s+(\w+).*""".r
  private val PlainPrivate = """(private|protected)(?!\[)|private\[this\]""".r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** The source with comments blanked (line breaks kept); string
    * literals stay, so a name in a string counts as a use. */
  def stripComments(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.startsWith("\"\"\"", i)) {
        val j = s.indexOf("\"\"\"", i + 3) match { case -1 => s.length; case k => k + 3 }
        out.append(s.substring(i, j)); i = j
      } else if (s.charAt(i) == '"') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != '"' && s.charAt(j) != '\n')
          j += (if (s.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, s.length)
        out.append(s.substring(i, j)); i = j
      } else if (s.startsWith("//", i)) {
        i = s.indexOf('\n', i) match { case -1 => s.length; case k => k }
      } else if (s.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < s.length && depth > 0) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out.append("\n" * s.substring(i, j).count(_ == '\n')); i = j
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** Top-level members of one file: each top-level template is a member
    * named after itself, and each of its own members is another. */
  def members(file: String, source: String): Seq[Member] = {
    val out = Seq.newBuilder[Member]
    var cur: Option[Member] = None // text collects in `lines` until flushed
    val lines = new StringBuilder
    def start(m: Option[Member]): Unit = {
      cur.foreach(c => out += c.copy(text = lines.toString))
      cur = m
      lines.clear()
    }
    stripComments(source).split('\n').foreach { line =>
      line match {
        case Top(_, name) => start(Some(Member(file, name, name, "template", "", "")))
        case l if l.startsWith("}") => start(None)
        case MemberStart(mods, kind, name) if cur.isDefined =>
          start(Some(Member(file, cur.get.owner, name, kind, mods.trim, "")))
        case _ =>
      }
      if (cur.isDefined) lines.append(line).append('\n')
    }
    start(None)
    out.result()
  }

  /** Every member of `src/main`, marked reached or not. */
  def scan(): Seq[Member] = {
    val root = Paths.get("src/main/scala")
    require(Files.isDirectory(root) && Files.exists(harness),
      s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> Files.readString(f)).toSeq
    val (roots, rest) = files.partition { case (f, _) => rootFiles.contains(f) }
    val all = rest.flatMap { case (f, s) => members(f, s) }.toIndexedSeq
    val rootTexts = roots.map(r => stripComments(r._2)) :+
      stripComments(Files.readString(harness)) :++
      all.filter(m => m.file == "graft/Queries.scala" && m.name == "registry").map(_.text)
    val reached = Array.fill(all.size)(false)
    val seen = scala.collection.mutable.Set.empty[String]
    val work = scala.collection.mutable.Stack(rootTexts: _*)
    def reach(i: Int): Unit = if (!reached(i)) { reached(i) = true; work.push(all(i).text) }
    while (work.nonEmpty) {
      val names = Ident.findAllIn(work.pop()).toSet -- seen
      seen ++= names
      all.indices.foreach { i =>
        val m = all(i)
        if (!reached(i) && !m.mods.contains("override") && names.contains(m.name)) {
          reach(i)
          if (m.kind == "template") all.indices.foreach { j =>
            if (all(j).file == m.file && all(j).owner == m.name && all(j).mods.contains("override"))
              reach(j)
          }
        }
      }
    }
    all.indices.filter(i => all(i).candidate).map(i => all(i).copy(reached = reached(i)))
  }
}
