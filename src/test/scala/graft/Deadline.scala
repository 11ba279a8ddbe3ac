package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Runs a test body on a daemon thread and fails once `seconds` pass,
  * so a hang fails its spec instead of stalling the suite. */
object Deadline {
  def apply[T](seconds: Int)(body: => T): T =
    Await.result(Future(body)(ExecutionContext.global), seconds.seconds)

  /** As [[apply]], and also fails when the body allocates more than
    * `maxBytes` on the thread that runs it (read with
    * `ThreadMXBean.getThreadAllocatedBytes` before and after the body).
    * Returns the result, the bytes allocated and the wall nanoseconds. */
  def bounded[T](seconds: Int, maxBytes: Long)(body: => T): (T, Long, Long) = {
    val (v, allocated, nanos) = apply(seconds) {
      val bean = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val id = Thread.currentThread().getId
      val a0 = bean.getThreadAllocatedBytes(id)
      val t0 = System.nanoTime()
      val v = body
      val nanos = System.nanoTime() - t0
      (v, bean.getThreadAllocatedBytes(id) - a0, nanos)
    }
    assert(allocated <= maxBytes,
      s"body allocated $allocated bytes, over the $maxBytes-byte bound")
    (v, allocated, nanos)
  }
}
