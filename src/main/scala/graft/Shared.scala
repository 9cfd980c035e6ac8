package graft

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** The one cross-query cache: frames several queries of a session read,
  * built once and kept until the session's owner releases them.
  *
  * Entries are found by the session object itself and a readable key
  * such as `coPurchase@<sfDir>`, so sessions never see each other's
  * frames. An entry holds the RDDs the context persisted while it was
  * built; any other pin a query leaves is its own ([[releasePins]]). */
object Shared {
  private final case class Entry(value: Any, rdds: Set[Int])
  private val frames = TrieMap.empty[SparkSession, TrieMap[String, Entry]]

  def apply[T](spark: SparkSession, key: String)(build: => T): T = {
    val frame = frames.getOrElseUpdate(spark, TrieMap.empty)
    frame.getOrElse(key, {
      val before = persisted(spark)
      val value = build
      frame.getOrElseUpdate(key, Entry(value, persisted(spark) -- before))
    }).value.asInstanceOf[T]
  }

  def keys(spark: SparkSession): Set[String] =
    frames.get(spark).fold(Set.empty[String])(_.keySet.toSet)

  def held(spark: SparkSession): Set[Int] =
    frames.get(spark).fold(Set.empty[Int])(_.values.flatMap(_.rdds).toSet)

  /** Ids of the RDDs persisted in `spark`'s context: a snapshot for
    * [[releasePins]]. */
  def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drops `spark`'s entries and unpersists the RDDs they hold. */
  def release(spark: SparkSession): Unit = {
    val rdds = held(spark)
    frames.remove(spark)
    unpersist(spark, rdds)
  }

  /** Unpersists every RDD persisted since `snapshot` that no entry holds. */
  def releasePins(spark: SparkSession, snapshot: Set[Int]): Unit =
    unpersist(spark, persisted(spark) -- snapshot)

  private def unpersist(spark: SparkSession, ids: Set[Int]): Unit = {
    val live = frames.keys.flatMap(held).toSet
    val rdds = spark.sparkContext.getPersistentRDDs
    (ids -- live).foreach(id =>
      rdds.get(id).foreach(_.unpersist(blocking = true)))
  }
}
