package org.apache.spark

/** Test-only access to the two `private[spark]` members graft's specs
  * need: the context's checkpoint dir (so a spec can switch the shared
  * test context to reliable cuts and put it back), and the listener
  * bus (so a spec can count jobs after they were posted).
  */
object SparkInternals {

  /** Runs `body` with `dir` as the active context's checkpoint dir, then
    * restores the previous dir (usually none), also when `body` throws.
    * Every cut inside `body` is then a reliable `checkpoint`. */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = SparkContext.getActive.get
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }

  /** Blocks until every event posted so far reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
