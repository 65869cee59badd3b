package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Access to `private[spark]` state the harness needs. */
object Bus {

  /** Waits until the listener bus has delivered every posted event, so the
    * traced run reads the late task and job events of the query just
    * finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empties Spark's cache of compiled generated code. A pass that follows
    * another then compiles its code again, as each query does when it runs
    * once in a fresh session (graft.Bench), so codegen time stays in the
    * timed passes. */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
