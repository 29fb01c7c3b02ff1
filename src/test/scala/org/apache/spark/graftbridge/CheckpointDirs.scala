package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only scoping for the context's checkpoint dir. Spark offers no
  * public way to unset it, and every suite shares one context in one
  * forked JVM, so a test that sets the dir would otherwise switch every
  * later suite onto reliable checkpoints. `checkpointDir` is
  * `private[spark]`, hence this package.
  */
object CheckpointDirs {
  /** Runs `body` with a fresh checkpoint dir set, passing the local path
    * the context checkpoints into, and unsets the dir afterwards.
    */
  def withCheckpointDir[T](sc: SparkContext)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-dir").toString
    sc.setCheckpointDir(dir)
    try body(new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get).toUri.getPath)
    finally sc.checkpointDir = None
  }
}
