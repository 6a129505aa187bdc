package graft.util

import org.apache.spark.sql.DataFrame

/** graft's one lineage cut: every checkpoint in `src/main` goes through
  * `df.cut(eager)` (`import graft.util.Lineage._`), the one parent-
  * pointer materialization of the reference (PAPER.md §1.1). It is the
  * only place that picks local or reliable:
  *
  *  - with a Spark checkpoint dir set (`spark.checkpoint.dir` at
  *    session start, or `SparkContext.setCheckpointDir`), a reliable
  *    `checkpoint` that survives executor loss. Always eager: a lazy
  *    reliable checkpoint recomputes the frame in a second job;
  *  - otherwise `localCheckpoint(eager)` (executor block storage — the
  *    single-JVM default of Bench, Verify, the server and the tests).
  *
  * `eager = false` only matters for the local cut: the snapshot then
  * materializes inside the first action that reads it, not in a job
  * of its own, which saves iterative loops (CC's change count, kNN
  * descent) one job per round. Under AQE the plan's shuffle map
  * stages still run at the call; only its result stage waits.
  *
  * The checkpoint RDD keeps the caller's file:line as its Spark call
  * site (the one plans and the UI show), not this file's.
  */
object Lineage {
  implicit class Cut(private val df: DataFrame) extends AnyVal {
    def cut(eager: Boolean = true): DataFrame = {
      val sc = df.sparkSession.sparkContext
      val reliable = sc.getCheckpointDir.isDefined
      val caller = StackWalker.getInstance().walk(frames =>
        frames.filter(f => !f.getClassName.startsWith("graft.util.Lineage"))
          .findFirst().get())
      val prev = sc.getLocalProperty(CallSiteKey)
      sc.setCallSite(
        s"${if (reliable) "checkpoint" else "localCheckpoint"} at " +
          s"${caller.getFileName}:${caller.getLineNumber}")
      try if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager)
      finally sc.setLocalProperty(CallSiteKey, prev)
    }
  }

  // SparkContext.setCallSite's property (CallSite.SHORT_FORM)
  private val CallSiteKey = "callSite.short"
}
