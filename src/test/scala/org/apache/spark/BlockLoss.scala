package org.apache.spark

import scala.reflect.ClassTag
import org.apache.spark.scheduler.{SparkListenerInterface, StageInfo}

/** Fault injection for the materialization tests: block removal, and
  * the checkpoint-dir, listener-bus and shuffle reads and resets that
  * Spark keeps package-private. */
object BlockLoss {

  /** Drop every block of `rddId` from executor storage, as an executor
    * loss would. */
  def removeRdd(rddId: Int): Unit = SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)

  /** Undo `setCheckpointDir`, which has no public inverse. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  def listenersOf[T <: SparkListenerInterface : ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]().toSeq

  /** Block until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle a map stage writes; None for a result stage. */
  def shuffleIdOf(stage: StageInfo): Option[Int] = stage.shuffleDepId

  /** Whether the map-output tracker still holds `shuffleId`. */
  def shuffleRegistered(shuffleId: Int): Boolean =
    SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster].containsShuffle(shuffleId)

  /** Shuffle data and index files of `shuffleId` still on local disk. */
  def shuffleFiles(shuffleId: Int): Seq[String] =
    SparkEnv.get.blockManager.diskBlockManager.getAllFiles().map(_.getName)
      .filter(_.startsWith(s"shuffle_${shuffleId}_"))
}
