package org.apache.spark.graft

import java.io.File
import org.apache.spark.util.ShutdownHookManager

/** Scratch support: delete a directory recursively at JVM exit through
  * Spark's own shutdown hook, which runs after the SparkContext has
  * stopped (so no task still writes into it). The manager is
  * `private[spark]`, hence this shim lives under the org.apache.spark
  * package, like [[ListenerDrain]].
  */
object ShutdownDelete {
  def register(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)
}
