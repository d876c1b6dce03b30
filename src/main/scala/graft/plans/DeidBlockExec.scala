package graft.plans

import graft.functions.DeidTurnExpr
import graft.pipeline.DeidBlock
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  BindReferences, Expression, GenericInternalRow, JoinedRow, LambdaFunction, NamedExpression,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Plans every `Project` that computes a [[DeidTurnExpr]] as a
  * `ProjectExec` over a [[DeidBlockExec]]: the block operator appends one
  * column per distinct deid expression, and the project list reads those
  * columns instead. Injected by [[GraftExtensions]]; a session without it
  * evaluates the expression row by row, with the same answers.
  */
object DeidBlockStrategy extends SparkStrategy {

  /** The deid expressions of `e` not nested in another one. One inside a
    * lambda reads the lambda's variables, which exist only while its
    * higher-order function runs, so it stays on the row path.
    */
  private def outermost(e: Expression): Seq[DeidTurnExpr] = e match {
    case d: DeidTurnExpr => Seq(d)
    case _: LambdaFunction => Nil
    case other => other.children.flatMap(outermost)
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(projectList, child) =>
      val deids = projectList.flatMap(outermost).foldLeft(Vector.empty[DeidTurnExpr]) {
        (acc, d) => if (acc.exists(_.semanticEquals(d))) acc else acc :+ d
      }
      if (deids.isEmpty) Nil
      else {
        val results = deids.map(d => AttributeReference("graft_deid", d.dataType, d.nullable)())
        val rewritten = projectList.map(_.transformDown {
          case d: DeidTurnExpr if deids.exists(_.semanticEquals(d)) =>
            results(deids.indexWhere(_.semanticEquals(d)))
        }.asInstanceOf[NamedExpression])
        // the columns the block reads or passes on: a projection of them
        // keeps the scan pruned, as the Project would when planned with it
        val used = AttributeSet(rewritten.flatMap(_.references) ++ deids.flatMap(_.references))
        val input =
          if (child.output.forall(used.contains)) child
          else Project(child.output.filter(used.contains), child)
        ProjectExec(rewritten, DeidBlockExec(deids, results, planLater(input))) :: Nil
      }
    case _ => Nil
  }
}

/** Evaluates `deids` over blocks of [[DeidBlockExec.BlockTurns]] input
  * rows, so that each block's replacement keys are seeded in one
  * vectorized MT19937 pass ([[DeidBlock]]), and appends their results as
  * the columns `results`. Rows, partitioning and ordering are the child's.
  */
case class DeidBlockExec(deids: Seq[DeidTurnExpr], results: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ results
  override def producedAttributes: AttributeSet = AttributeSet(results)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numBlocks" -> SQLMetrics.createMetric(sparkContext, "number of blocks"),
    "keysSeeded" -> SQLMetrics.createMetric(sparkContext, "MT19937 keys seeded"),
    "seedTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "time seeding keys"))

  override protected def doExecute(): RDD[InternalRow] = {
    val texts = deids.map(d => BindReferences.bindReference(d.child, child.output)).toArray
    val configs = deids.toArray
    val numOutputRows = longMetric("numOutputRows")
    val numBlocks = longMetric("numBlocks")
    val keysSeeded = longMetric("keysSeeded")
    val seedTime = longMetric("seedTime")
    child.execute().mapPartitions { rows =>
      val blocks = configs.map(_ => new DeidBlock)
      val inputs = configs.map(_ => new Array[String](DeidBlockExec.BlockTurns))
      val held = new Array[InternalRow](DeidBlockExec.BlockTurns)
      val deidRow = new GenericInternalRow(configs.length)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        private var pos = 0
        private var len = 0

        /** buffers and processes the next block; false at the end */
        private def fill(): Boolean = {
          pos = 0
          len = 0
          while (len < DeidBlockExec.BlockTurns && rows.hasNext) {
            val row = rows.next().copy() // the child reuses its row
            held(len) = row
            var e = 0
            while (e < texts.length) {
              val v = texts(e).eval(row)
              inputs(e)(len) = if (v == null) null else v.toString
              e += 1
            }
            len += 1
          }
          if (len > 0) {
            numBlocks += 1
            var e = 0
            while (e < configs.length) {
              val d = configs(e)
              blocks(e).processBlock(inputs(e), len, d.mode, d.lang, d.withStub, d.extractHtml)
              keysSeeded += blocks(e).seeded
              seedTime += blocks(e).seedNs
              e += 1
            }
          }
          len > 0
        }

        override def hasNext: Boolean = pos < len || fill()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          var e = 0
          while (e < blocks.length) {
            deidRow.update(e, blocks(e).row(pos))
            e += 1
          }
          val row = held(pos)
          held(pos) = null
          pos += 1
          numOutputRows += 1
          joined(row, deidRow)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DeidBlockExec =
    copy(child = newChild)
}

object DeidBlockExec {
  /** Turns per block. */
  val BlockTurns = 256
}
