package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), GraftSession at a fixed 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(cores = 4).getOrCreate()
}
