package graft.write

/** Test-side access to [[LakeWriter]]'s `private[write]` seams for specs
  * outside the package. */
object LakeWriterSeams {

  /** Runs `body` with [[LakeWriter.clusterSplitTargetBytes]] lowered to
    * `bytes`, restoring the constant afterwards. */
  def withClusterSplitTargetBytes[A](bytes: Long)(body: => A): A = {
    val prev = LakeWriter.clusterSplitTargetBytes
    LakeWriter.clusterSplitTargetBytes = bytes
    try body
    finally LakeWriter.clusterSplitTargetBytes = prev
  }
}
