package graft.util

import org.apache.spark.SparkContext

/** Names the Spark jobs a block launches on this thread
  * (`<entry|verb>:<step>`, shown per job in listeners and the UI), then
  * restores the thread's previous description — pool threads are
  * reused, so a description must never outlive its block. */
object JobDesc {
  def apply[T](sc: SparkContext, desc: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}
