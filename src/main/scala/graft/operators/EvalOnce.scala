package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, col, inline, struct}

/** Per-row kernel columns that run once per row, whatever reads them.
  *
  * A column added by a projection is an alias, and the optimizer inlines
  * aliases into what reads them: a Filter is pushed below the Project by
  * substituting the alias, an inferred `isnotnull` does the same, and a
  * filter over a join's output lands in the join condition. Only
  * `ProjectExec` gets codegen subexpression elimination, so every copy
  * in a Filter or a join condition runs again per row (the corpus
  * stage-1 chain ran `pii_redact` 27 times a row). A generator's output
  * is no alias: `inline` over a one-element array of the columns' struct
  * yields them once, and its readers see plain attributes. PlanAuditSpec
  * pins the rule across every wired query.
  */
private[graft] object EvalOnce {

  /** `df`'s columns plus `cols`, each evaluated once per row. Every one
    * of `cols` must be named (`.as`).
    */
  def withColumns(df: DataFrame, cols: Column*): DataFrame =
    df.select(col("*"), inline(array(struct(cols: _*))))
}
