package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source checks over `src/main/scala` that the compiler does not make. */
class SourceLintSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  private def mainSources: Seq[Path] = sources("src/main/scala")

  /** Code lines of `files` matching `pattern`, comments and trailing
    * `//` comments left out, as `file:line: code`. */
  private def offending(files: Seq[Path], pattern: scala.util.matching.Regex)
      : Seq[String] = for {
    f <- files
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    code = line.trim
    if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
    if pattern.findFirstIn(code.split(" // ")(0)).isDefined
  } yield s"$f:${i + 1}: $code"

  test("String case mapping names its Locale") {
    // default-locale case mapping depends on the JVM: on a Turkish one
    // "I".toLowerCase is dotless "ı", which breaks header names, tag
    // names and keyword matching. Character.toLowerCase/toUpperCase are
    // locale-free and allowed.
    val call =
      """(?<!Character)\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\.)""".r
    val offenders = offending(mainSources, call)
    assert(mainSources.nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the operators' word tokenizer is written once, in WordTokens") {
    // the empty-dropping single-space split, Column or Scala form; a
    // second copy could drift from the SQL oracles' tokens unnoticed.
    // A split that keeps empty tokens (ParagraphDedup.wordChunks) is
    // another tokenizer and is not flagged.
    val split = """filter\(split\(.*?,\s*" "\)|\.split\(" ",\s*-1\)""".r
    val ops = sources("src/main/scala/graft/ops")
    val offenders = offending(
      ops.filterNot(_.getFileName.toString == "WordTokens.scala"), split)
    assert(offending(ops, split).nonEmpty, "the rule matches nothing")
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("scratch follows the session's local dir, deleted by one helper") {
    // a host path bakes one machine's layout into the engine; scratch
    // roots come from SPARK_LOCAL_DIRS / spark.local.dir instead. The
    // bench harnesses choose their own local dir and are left out.
    val frozen = Set("Bench.scala", "BenchExtra.scala")
    val files = mainSources.filterNot(f => frozen(f.getFileName.toString))
    val shm = offending(files, "/dev/shm".r)
    assert(shm.isEmpty, shm.mkString("\n", "\n", ""))
    val walks = offending(files, """Files\.walk\b""".r)
    assert(walks.size == 1 && walks.head.contains("SparkEntry.scala:"),
      walks.mkString("\n", "\n", ""))
  }
}
