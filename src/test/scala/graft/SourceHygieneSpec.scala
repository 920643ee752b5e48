package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard against config drift: [[graft.Session]] is the one
  * place under `src/main/scala` that builds a SparkSession, and the
  * environment is read only for the deployment settings below, so no
  * query result can depend on an environment variable. The native
  * `graft_*` functions reach a session one way: the table in
  * `graft/plans/GraftExtensions.scala`, which names every kernel once.
  * Tables publish atomically one way: [[graft.io.Manifest]]'s stage →
  * move → commit, the only code that stages, renames or writes
  * manifests. Every object is reached from an entry point. Comment
  * lines are skipped (usage blocks may show a builder). */
class SourceHygieneSpec extends AnyFunSuite {

  private val root = new File("src/main/scala")

  /** file (relative to `src/main/scala`) → the variables it may read */
  private val envAllowed = Map(
    "graft/Session.scala" -> Set("SPARK_GRAFT_CPUS", "SPARK_MASTER"),
    "graft/Bench.scala" -> Set("SPARK_GRAFT_SF_DIR"),
    "graft/BenchOne.scala" -> Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_RUNS"))

  /** (path relative to `dir`, its lines minus comment lines) of every
    * `.scala` file under `dir`. A trailing `// ...` stays, so it can
    * only add a hit. */
  private def codeOf(dir: File): Seq[(String, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(dir).map { f =>
      val rel = dir.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val code = Files.readAllLines(f.toPath).asScala.filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }
      rel -> code.mkString("\n")
    }
  }

  private lazy val sources: Seq[(String, String)] = codeOf(root)

  test("SparkSession.builder appears only in graft/Session.scala") {
    val builders = sources.collect {
      case (rel, code) if code.contains("SparkSession.builder") => rel
    }
    assert(builders === Seq("graft/Session.scala"))
  }

  test("environment reads are the allow-listed deployment settings only") {
    val read = "(sys\\.env|System\\.getenv)".r
    val named =
      "(?:sys\\.env(?:\\.get|\\.getOrElse|\\.contains|\\.apply)?|System\\.getenv)\\(\\s*\"([A-Z0-9_]+)\"".r
    val offenders = sources.flatMap { case (rel, code) =>
      val names = named.findAllMatchIn(code).map(_.group(1)).toSeq
      // a read whose variable is not a literal cannot be checked
      val unnamed =
        if (read.findAllMatchIn(code).size > names.size) Seq(s"$rel: non-literal read")
        else Nil
      unnamed ++ names.filterNot(envAllowed.getOrElse(rel, Set.empty[String]))
        .map(n => s"$rel: $n")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("native functions are installed only by the GraftExtensions registry") {
    val registry = "graft/plans/GraftExtensions.scala"
    val installers = sources.collect {
      case (rel, code)
          if "registerFunction|injectFunction|functionRegistry".r
            .findFirstIn(code).isDefined => rel
    }
    assert(installers === Seq(registry))
    val kernel = """case class (\w+)\([^)]*\)\s*extends\s+\w*Expression\b""".r
    val kernels = sources.collect {
      case (rel, code) if rel.startsWith("graft/plans/") =>
        kernel.findAllMatchIn(code).map(_.group(1))
    }.flatten
    assert(kernels.nonEmpty)
    val table = sources.toMap.apply(registry)
    val counts = kernels.map(k => k -> s"\\b$k\\b".r.findAllIn(table).size)
    assert(counts.forall(_._2 == 1),
      counts.filter(_._2 != 1).map { case (k, n) => s"$k named $n times" }
        .mkString("\n"))
  }

  test("one publish protocol: staging, manifests and renames appear only " +
    "in graft/io/Manifest.scala") {
    val protocol = Seq("\".stage-\"", "_manifests", ".rename(")
    val users = sources.collect {
      case (rel, code) if protocol.exists(code.contains) => rel
    }
    assert(users === Seq("graft/io/Manifest.scala"))
  }

  test("every object under src/main/scala is reached from an entry point") {
    // a file is reached when reached code names one of its top-level
    // objects, classes or traits; the roots are the mains, the
    // extension installed by config string, and the benchmark's code
    val decl = ("""(?m)^(?:(?:private|sealed|final|abstract|case|implicit)""" +
      """(?:\[\w+\])?\s+)*(?:object|class|trait)\s+(\w+)""").r
    val code = sources.toMap
    val names = code.map { case (rel, c) =>
      rel -> decl.findAllMatchIn(c).map(_.group(1)).toSet
    }
    def named(c: String): Set[String] = names.collect {
      case (rel, ns) if ns.exists(n => s"\\b$n\\b".r.findFirstIn(c).isDefined) => rel
    }.toSet
    val bench = codeOf(new File("perfbench/scala")).map(_._2).mkString("\n")
    val roots = code.collect { case (rel, c) if c.contains("def main(") => rel }.toSet +
      "graft/plans/GraftExtensions.scala" ++ named(bench)
    @annotation.tailrec
    def reach(seen: Set[String], frontier: Set[String]): Set[String] =
      if (frontier.isEmpty) seen
      else {
        val next = frontier.flatMap(rel => named(code(rel))) -- seen
        reach(seen ++ next, next)
      }
    val unreached = (code.keySet -- reach(roots, roots)).toSeq
      .flatMap(names).sorted
    assert(unreached.isEmpty, s"no entry point reaches: ${unreached.mkString(", ")}")
  }
}
