package graft.llm

/** Bytes the calling thread allocates while `body` runs — how the decoder
  * specs pin that a lying header quarantines before its w×h buffer
  * exists. */
object AllocatedBytes {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def of(body: => Any): Long = {
    body // first call: class loading and JIT allocate too
    val before = mx.getCurrentThreadAllocatedBytes
    body
    mx.getCurrentThreadAllocatedBytes - before
  }
}
