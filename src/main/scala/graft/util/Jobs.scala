package graft.util

import org.apache.spark.SparkContext

object Jobs {
  /** Runs `body` with its jobs described as `text`, then restores the
    * caller's job description (a nested call describes its own jobs). */
  def described[T](sc: SparkContext, text: String)(body: => T): T = {
    val callerDescription = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try body finally sc.setJobDescription(callerDescription)
  }
}
