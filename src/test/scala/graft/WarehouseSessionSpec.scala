package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** A suite that builds [[Warehouse]]s: a Warehouse registers its
  * optimizer rules (manifest resolution, skip-stat pruning) on the
  * shared session, so the suite puts the session's rule list back when
  * it ends — later suites then plan as they would without it. */
trait WarehouseSessionSpec extends SparkSpec {
  private var rules: Seq[Rule[LogicalPlan]] = Nil

  override def beforeAll(): Unit = {
    super.beforeAll()
    rules = spark.experimental.extraOptimizations
  }

  override def afterAll(): Unit = {
    spark.experimental.extraOptimizations = rules
    super.afterAll()
  }
}
