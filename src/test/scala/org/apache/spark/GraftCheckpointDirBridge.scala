package org.apache.spark

/** Test-side bridge to the application checkpoint directory. Spark can
  * set it (`SparkContext.setCheckpointDir`) but offers no public way to
  * unset it, and a spec that left it set would move every later spec in
  * the shared session onto reliable checkpoints. The field is
  * `private[spark]`, hence this one-hop bridge. */
object GraftCheckpointDirBridge {
  def restore(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
