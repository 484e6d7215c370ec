package org.apache.spark.rdd

/** Reads an RDD's checkpoint mark, which Spark keeps `private[spark]`:
  * marked means `checkpoint()` or `localCheckpoint()` was called on it;
  * `isCheckpointed` then says whether the cut has completed. */
object CheckpointMarks {
  def marked(r: RDD[_]): Boolean = r.checkpointData.isDefined
}
