package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

/** The job mains' strict `--key value` parser: a dangling flag, an
  * unknown flag or a non-boolean flag value is an error, never a
  * default. */
class JobArgsSpec extends AnyFunSuite {

  private val known = Set("input", "narrow")

  test("known pairs parse; an absent flag is false") {
    val opts = JobArgs.parse(Array("--input", "x", "--narrow", "true"), known)
    assert(opts == Right(Map("input" -> "x", "narrow" -> "true")))
    assert(JobArgs.flag(opts.toOption.get, "narrow") == Right(true))
    assert(JobArgs.flag(Map.empty, "narrow") == Right(false))
    assert(JobArgs.parse(Array.empty, known) == Right(Map.empty))
  }

  test("a dangling flag is an error") {
    assert(JobArgs.parse(Array("--input", "x", "--narrow"), known) ==
      Left("--narrow has no value"))
  }

  test("an unknown flag or a bare value is an error") {
    assert(JobArgs.parse(Array("--inptu", "x"), known) ==
      Left("unknown option --inptu"))
    assert(JobArgs.parse(Array("input", "x"), known) ==
      Left("unknown option input"))
  }

  test("a non-boolean flag value is an error") {
    assert(JobArgs.flag(Map("narrow" -> "yes"), "narrow") ==
      Left("--narrow must be true or false (got 'yes')"))
  }
}
