package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source checks over `src/main/scala` that the compiler does not make. */
class SourceLintSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  test("String case mapping names its Locale") {
    // default-locale case mapping depends on the JVM: on a Turkish one
    // "I".toLowerCase is dotless "ı", which breaks header names, tag
    // names and keyword matching. Character.toLowerCase/toUpperCase are
    // locale-free and allowed.
    val call =
      """(?<!Character)\.to(?:Lower|Upper)Case\b(?!\s*\(\s*(?:java\.util\.)?Locale\.)""".r
    val offenders = for {
      f <- mainSources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if call.findFirstIn(code.split(" // ")(0)).isDefined
    } yield s"$f:${i + 1}: $code"
    assert(mainSources.nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
