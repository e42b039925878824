package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, declared once: its name, the DuckDB SQL that
  * reproduces its output over the same parquet tables (the driver
  * hash-compares the two), and the Spark build over `(session, sfDir)`.
  * The oracle is a required argument, so a query without one does not
  * compile. It is evaluated when its family object initializes, so every
  * val it interpolates must be declared above the family's `specs` (a
  * forward reference compiles and reads `null` or `0.0`), or be a `def`.
  *
  * The two optional fields are PlanAudit's per-query reasons, printed
  * with the audit:
  *  - `auditSkip`: the audit skips this query (its plan would show a
  *    wrapper, not the work).
  *  - `bnljAllowed`: a BroadcastNestedLoopJoin build side that is
  *    bounded by construction but not provable from the plan shape.
  *
  * Equality and `toString` cover the first parameter list only.
  */
final case class QuerySpec(
    name: String,
    oracleSql: String,
    auditSkip: Option[String] = None,
    bnljAllowed: Option[String] = None)(val build: QuerySpec.Q)

object QuerySpec {
  type Q = (SparkSession, String) => DataFrame
}
