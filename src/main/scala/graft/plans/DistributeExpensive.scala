package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Fans out small scans feeding per-row-EXPENSIVE document expressions
  * (PDF/Office/XLSX synth–parse–redact chains: ~0.1–1 ms per row of pure
  * JVM work) across the cluster before the projection runs.
  *
  * Why: a document-payload table is often tiny in bytes but huge in CPU —
  * at the bench scale a 584 KB parquet file bin-packs into ONE scan split,
  * so a 3–4 s redaction chain runs on a single core of `local[32]` (guide
  * §2.6: idle capacity; §6: input split size). Splitting by bytes cannot
  * help (parquet splits at row-group boundaries), so the fix is an explicit
  * round-robin exchange of the narrow input rows — a few hundred KB moved
  * once, against seconds of per-row CPU.
  *
  * Scale safety: the rule fires ONLY when
  *  - the projection contains one of the named expensive expression
  *    classes (never plain string/regex expressions),
  *  - the input subtree is a narrow Project/Filter chain over a leaf (a
  *    shuffle/aggregate below would already have distributed the rows),
  *  - the plan is not streaming,
  *  - the input's estimated size passes the `DistributeExpensiveProjections`
  *    [[Gate]] (1 GiB — a corpus whose *payload bytes* are large must NOT be
  *    round-robin-shuffled; its scan already has enough splits, guide §8).
  *
  * Partition count = `defaultParallelism` (parameterised by the session's
  * core count — never a hard-coded constant).
  */
case class DistributeExpensiveProjections(session: SparkSession)
    extends Rule[LogicalPlan] {

  private def isExpensive(e: Expression): Boolean = e.exists {
    case _: graft.functions.PdfSynthExpr => true
    case _: graft.functions.PdfRedactExpr => true
    case _: graft.functions.PdfRewriteExpr => true
    case _: graft.functions.PdfTextExpr => true
    case _: graft.functions.PdfPagesExpr => true
    case _: graft.functions.XlsxSynthExpr => true
    case _: graft.functions.XlsxDeidExpr => true
    case _: graft.functions.XlsxTextExpr => true
    case _: graft.functions.OfficeSynthExpr => true
    case _: graft.functions.OfficeDeidExpr => true
    case _: graft.functions.OfficeTextExpr => true
    case _ => false
  }

  /** Narrow chain from the projection down to a leaf: nothing below has
    * introduced an exchange (nor a repartition, so the rule fires once),
    * and the leaf's split count IS the parallelism.
    */
  private def narrowChain(plan: LogicalPlan): Boolean = plan match {
    case _: LeafNode => true
    case p: Project => narrowChain(p.child)
    case f: Filter => narrowChain(f.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, child)
        if list.exists(isExpensive) && !p.isStreaming && narrowChain(child) &&
          Gate.choose(session, "DistributeExpensiveProjections",
            Gate.estimatedBytes(child)) =>
      Project(list,
        Repartition(session.sparkContext.defaultParallelism, shuffle = true, child))
  }
}
