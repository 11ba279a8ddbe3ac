package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Runs a test body on a daemon thread and fails once `seconds` pass,
  * so a hang fails its spec instead of stalling the suite. */
object Deadline {
  def apply[T](seconds: Int)(body: => T): T =
    Await.result(Future(body)(ExecutionContext.global), seconds.seconds)
}
