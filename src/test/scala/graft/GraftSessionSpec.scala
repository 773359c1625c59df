package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

import graft.plans.BoundedTopKStrategy

class GraftSessionSpec extends SparkSpecBase {

  /** Stands in for a strategy a host application installed. */
  private object HostStrategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
  }

  test("install keeps host strategies and adds BoundedTopKStrategy once") {
    val prev = spark.experimental.extraStrategies
    try {
      spark.experimental.extraStrategies = Seq(HostStrategy)
      GraftSession.install(spark)
      GraftSession.install(spark)
      val got = spark.experimental.extraStrategies
      assert(got.contains(HostStrategy))
      assert(got.count(_ == BoundedTopKStrategy) === 1)
    } finally spark.experimental.extraStrategies = prev
  }
}
