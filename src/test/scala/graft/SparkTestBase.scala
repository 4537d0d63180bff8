package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (session startup ~5s).
  * A spec that stops it (the registry's context-stop rule) gets a fresh
  * one for everything that runs after it. */
object SparkTestBase {
  private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      current = GraftSession.builder("graft-test")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      current.sparkContext.setLogLevel("WARN")
    }
    current
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sfDir: String = SparkTestBase.sfDir
}

/** Plan-shape assertions count plan NODES, not substrings of the plan
  * text; collecting through AdaptiveSparkPlanHelper descends into AQE's
  * adaptive plan and its query stages. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def count[T <: SparkPlan](plan: SparkPlan)(implicit t: ClassTag[T]): Int =
    collect(plan) { case n if t.runtimeClass.isInstance(n) => n }.size
}
