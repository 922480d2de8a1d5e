package graft.util

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

object Jobs {
  /** Runs `body` with its jobs described as `text`, then restores the
    * caller's job description (a nested call describes its own jobs). */
  def described[T](sc: SparkContext, text: String)(body: => T): T = {
    val callerDescription = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try body finally sc.setJobDescription(callerDescription)
  }

  /** The read-once skeleton of the driver-looped operators
    * (`KMeansNative.lloyd`, `Similarity.graphSearch`): `read` — the
    * inputs as per-partition arrays — is persisted (memory and disk)
    * under `name`, `body` runs its [[roundJob]]s over it with the loop
    * state on the driver, and the copy is unpersisted however `body`
    * ends. */
  private[graft] def persisted[T, R](read: RDD[T], name: String)(body: RDD[T] => R): R = {
    val parts = read.setName(name).persist(StorageLevel.MEMORY_AND_DISK)
    try body(parts) finally parts.unpersist()
  }

  /** One round of such a loop: ONE `mapPartitions…collect` job over
    * `parts` (one stage, no shuffle, no plan to analyse), described as
    * `text`, returning `f` of each partition in partition order. */
  private[graft] def roundJob[T, U: ClassTag](parts: RDD[T], text: String)
                                             (f: Iterator[T] => U): Array[U] =
    described(parts.sparkContext, text)(parts.mapPartitions(it => Iterator.single(f(it))).collect())
}
