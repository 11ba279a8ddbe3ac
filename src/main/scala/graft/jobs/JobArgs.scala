package graft.jobs

import org.apache.spark.sql.SparkSession

/** The strict `--key value` command line of the job mains. A dangling or
  * unknown flag must not silently fall back to a default: it would
  * resume someone else's lineage dir or drain into the wrong sink. Each
  * parse returns the error line instead of exiting; the main prints it
  * with its usage and exits 2. */
private[jobs] object JobArgs {

  /** `--key value` pairs, each key among `known`. */
  def parse(args: Array[String], known: Set[String])
      : Either[String, Map[String, String]] =
    args.grouped(2).collectFirst {
      case Array(k) => s"$k has no value"
      case Array(k, _) if !k.startsWith("--") || !known.contains(k.drop(2)) =>
        s"unknown option $k"
    }.toLeft(args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)

  /** A `true|false` flag; absent is false. */
  def flag(opts: Map[String, String], name: String): Either[String, Boolean] =
    opts.get(name) match {
      case None | Some("false") => Right(false)
      case Some("true") => Right(true)
      case Some(other) => Left(s"--$name must be true or false (got '$other')")
    }

  /** spark-submit injects the master; bare runs default to local[*]. */
  def session(builder: SparkSession.Builder): SparkSession =
    (if (sys.props.contains("spark.master")) builder
     else builder.master("local[*]")).getOrCreate()
}
