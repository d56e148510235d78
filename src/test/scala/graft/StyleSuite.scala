package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Style gate, mirroring the reference plugin's build-time scalastyle check
 * (reference `pom.xml:160-183` + `scalastyle-config.xml`). The sbt plugin
 * ecosystem is unavailable offline, so the same core file-level rules run
 * here as a plain test: the gate is `sbt test`, exactly like the
 * reference's `mvn package`.
 *
 * Enforced (reference check in parens): no tab characters
 * (FileTabChecker), no trailing whitespace (WhitespaceEndOfLineChecker),
 * line length <= 120 (FileLineLengthChecker, widened from 100 for
 * embedded SQL), newline at EOF (NewLineAtEofChecker), no
 * `NotImplementedError` placeholders (NotImplementedErrorUsage),
 * `println` confined to the CLI mains (RegexChecker on println), and
 * session-conf writes confined to the scoped `withConfs` helper, the
 * catalogue's timezone pin and the CLI mains: graft runs inside the
 * caller's session, so operator code never flips a conf its other
 * queries read. Tests create temp dirs only through
 * `GraftSparkSession.withTempDir`, which deletes them afterwards. No
 * `@volatile` field holds diagnostics or caches in `src/main/scala`, and
 * `graft.tools.Instrument` is its one `SparkListener`: Spark work is
 * counted, and decisions recorded, in one place. No operator sets the
 * SparkContext's checkpoint dir, which every session on it shares.
 */
class StyleSuite extends AnyFunSuite {

  private val roots = Seq("src/main/scala", "src/test/scala")

  // the CLI/driver mains and dev tools legitimately print to stdout
  private val printlnAllowed = Set(
    "graft/Bench.scala", "graft/Verify.scala", "graft/tools/Explain.scala",
    "graft/tools/Profile.scala")

  // the scoped helper, plus the CLI mains, which own their session
  private val confWriteAllowed = printlnAllowed + "graft/conf/GraftConf.scala"
  // SparkEntry.prep's one line: results must not depend on the harness's timezone
  private val timezonePin = """spark.conf.set("spark.sql.session.timeZone", "UTC")"""

  private def sources: Seq[Path] = roots.flatMap { r =>
    val root = Paths.get(r)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  private def check(rule: String)(violation: (Path, Array[String]) => Seq[String]): Unit =
    test(rule) {
      val all = sources.flatMap { p =>
        val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        violation(p, text.split("\n", -1))
      }
      assert(all.isEmpty, s"\n${all.mkString("\n")}")
    }

  check("no tab characters") { (p, lines) =>
    lines.zipWithIndex.collect {
      case (l, i) if l.contains('\t') => s"$p:${i + 1}: tab character"
    }
  }

  check("no trailing whitespace") { (p, lines) =>
    lines.zipWithIndex.collect {
      case (l, i) if l != l.replaceAll("[ \t]+$", "") =>
        s"$p:${i + 1}: trailing whitespace"
    }
  }

  check("line length <= 120") { (p, lines) =>
    lines.zipWithIndex.collect {
      case (l, i) if l.length > 120 => s"$p:${i + 1}: ${l.length} chars"
    }
  }

  check("newline at end of file") { (p, lines) =>
    // split("\n", -1) leaves one trailing empty element iff the file ends
    // with a newline
    if (lines.isEmpty || lines.last.nonEmpty) Seq(s"$p: no newline at EOF") else Nil
  }

  check("no not-implemented placeholders") { (p, lines) =>
    val needle = "?" * 3 // built dynamically so this file passes its own gate
    lines.zipWithIndex.collect {
      case (l, i) if l.contains(needle) => s"$p:${i + 1}: $needle placeholder"
    }
  }

  check("println only in CLI mains") { (p, lines) =>
    val rel = p.toString.replace('\\', '/')
    if (!rel.startsWith("src/main/scala") ||
      printlnAllowed.exists(rel.endsWith)) Nil
    else lines.zipWithIndex.collect {
      case (l, i) if l.matches(""".*\bprintln\(.*""") => s"$p:${i + 1}: println"
    }
  }

  check("tests create temp dirs only through withTempDir") { (p, lines) =>
    val rel = p.toString.replace('\\', '/')
    val needle = "createTemp" + "Directory" // split so this file passes its own gate
    if (!rel.startsWith("src/test/scala") || rel.endsWith("graft/GraftSparkSession.scala")) Nil
    else lines.zipWithIndex.collect {
      case (l, i) if l.contains(needle) => s"$p:${i + 1}: temp dir outside withTempDir"
    }
  }

  check("no @volatile field under src/main/scala") { (p, lines) =>
    val needle = "@" + "volatile" // split so this file passes its own gate
    if (!p.toString.replace('\\', '/').startsWith("src/main/scala")) Nil
    else lines.zipWithIndex.collect {
      case (l, i) if l.contains(needle) => s"$p:${i + 1}: $needle field"
    }
  }

  check("the instrument is the one SparkListener subclass under src/main/scala") { (p, lines) =>
    val rel = p.toString.replace('\\', '/')
    if (!rel.startsWith("src/main/scala") || rel.endsWith("graft/tools/Instrument.scala")) Nil
    else lines.zipWithIndex.collect {
      case (l, i) if l.matches(""".*\b(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b.*""") =>
        s"$p:${i + 1}: SparkListener subclass outside graft.tools.Instrument"
    }
  }

  check("session confs written only by withConfs, the timezone pin and CLI mains") { (p, lines) =>
    val rel = p.toString.replace('\\', '/')
    if (!rel.startsWith("src/main/scala") ||
      confWriteAllowed.exists(rel.endsWith)) Nil
    else lines.zipWithIndex.collect {
      case (l, i) if l.matches(""".*\bconf\.(set|unset)\w*\(.*""") &&
        !(rel.endsWith("graft/SparkEntry.scala") && l.trim == timezonePin) =>
        s"$p:${i + 1}: session conf write"
    }
  }

  check("no setCheckpointDir under src/main/scala") { (p, lines) =>
    if (!p.toString.replace('\\', '/').startsWith("src/main/scala")) Nil
    else lines.zipWithIndex.collect {
      case (l, i) if l.contains("setCheckpointDir") => s"$p:${i + 1}: SparkContext-global checkpoint dir write"
    }
  }
}
