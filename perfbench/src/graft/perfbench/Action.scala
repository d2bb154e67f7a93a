package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** The timed action of a query key: the whole executed plan, every output
  * column and the final sort, folded into (row count, digest).
  *
  * `Dataset.count()` lets Catalyst prune every projected column and drop
  * the sort, so a count can time a plan that never runs the query's
  * expressions. Here each partition of `executedPlan.execute()` is
  * projected to `UnsafeRow`s and each row's bytes are hashed with XXH64;
  * the digest is the sum of the row hashes modulo 2^64, so it does not
  * depend on row or partition order. The call runs under a new SQL
  * execution id, as a Dataset action does, so query-execution listeners
  * see it.
  */
object Action {
  /** Returns (rows, digest as 16 hex digits). */
  def run(df: DataFrame): (Long, String) = {
    val qe = df.queryExecution
    val (rows, digest) = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      val plan = qe.executedPlan
      val schema = plan.schema
      plan.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator.single((n, h))
      }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    }
    (rows, f"$digest%016x")
  }
}
