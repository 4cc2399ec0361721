package org.apache.spark

import java.io.File

import org.apache.spark.util.Utils

/** Scopes a reliable checkpoint dir to one block of test code. A
  * SparkContext offers no public way to unset its checkpoint dir, and
  * suites share one context per JVM, so the dir is put back to `None`
  * through the package-private setter once the block ends.
  */
object CheckpointDirs {
  def withTempCheckpointDir[T](sc: SparkContext)(body: File => T): T = {
    require(sc.getCheckpointDir.isEmpty, "a checkpoint dir is already set")
    val root = Utils.createTempDir(namePrefix = "graft-ckpt")
    sc.setCheckpointDir(root.getPath)
    try body(root)
    finally {
      sc.checkpointDir = None
      Utils.deleteRecursively(root)
    }
  }
}
