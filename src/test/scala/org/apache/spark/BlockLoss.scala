package org.apache.spark

import scala.reflect.ClassTag
import org.apache.spark.scheduler.SparkListenerInterface

/** Fault injection for the materialization tests: block removal, and
  * the checkpoint-dir and listener-bus reads and resets that Spark keeps
  * package-private. */
object BlockLoss {

  /** Drop every block of `rddId` from executor storage, as an executor
    * loss would. */
  def removeRdd(rddId: Int): Unit = SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)

  /** Undo `setCheckpointDir`, which has no public inverse. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  def listenersOf[T <: SparkListenerInterface : ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]().toSeq
}
