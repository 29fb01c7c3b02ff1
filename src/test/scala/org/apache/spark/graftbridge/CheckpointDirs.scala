package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only scoping for the context's checkpoint dir. Spark offers no
  * public way to unset it, and every suite shares one context in one
  * forked JVM, so a test that sets the dir would otherwise switch every
  * later suite onto reliable checkpoints. `checkpointDir` is
  * `private[spark]`, hence this package.
  */
object CheckpointDirs {
  /** Runs `body` with the fresh dir `dir` set as the checkpoint dir,
    * passing the local path the context checkpoints into, and unsets the
    * dir afterwards.
    */
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: String => T): T = {
    sc.setCheckpointDir(dir)
    try body(new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get).toUri.getPath)
    finally sc.checkpointDir = None
  }
}
