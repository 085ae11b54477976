package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Unevaluable, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, ShuffleSpec}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The partitioning of a scan that holds all rows of one `key` value in
  * one of its `numPartitions` partitions, read from one `file`.
  *
  * Being an expression over `key`, it passes through Project (renamed
  * with an alias, dropped with the key) and Filter. It satisfies a
  * clustering that contains the key, or is exactly the key when all
  * cluster keys are required. It co-partitions with nothing, so a join
  * shuffles this side; `file` is part of its equality, so the claims of
  * scans over two files never count as one. */
case class ClusteredOn(key: Expression, numPartitions: Int, file: String)
    extends Expression with Partitioning with Unevaluable {
  override def children: Seq[Expression] = Seq(key)
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType

  override def satisfies0(required: Distribution): Boolean =
    super.satisfies0(required) || (required match {
      case ClusteredDistribution(clustering, allKeys, _) =>
        if (allKeys) clustering.length == 1 && clustering.head.semanticEquals(key)
        else clustering.exists(_.semanticEquals(key))
      case _ => false
    })

  override def createShuffleSpec(distribution: ClusteredDistribution): ShuffleSpec =
    ClusteredOn.Unshared(numPartitions)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ClusteredOn = copy(key = newChildren.head)
}

object ClusteredOn {
  /** Compatible with no spec, itself included, and creates no partitioning. */
  case class Unshared(numPartitions: Int) extends ShuffleSpec {
    override def isCompatibleWith(other: ShuffleSpec): Boolean = false
    override def canCreatePartitioning: Boolean = false
  }
}

/** A clustered scan: the wrapped scan's rows, as `UnsafeRow`s, reported
  * as [[ClusteredOn]]. The conversion is here because the Project that
  * Spark plans above a DataSource V2 scan to make its rows unsafe is
  * dropped as redundant above a node that is not a scan. */
case class ClusteredScanExec(child: SparkPlan, partitioning: ClusteredOn)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = partitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val attrs = output
    child.execute().mapPartitions { rows =>
      val toUnsafe = UnsafeProjection.create(attrs, attrs)
      rows.map(toUnsafe)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ClusteredScanExec =
    copy(child = newChild)
}

/** Wraps each split-file scan that makes a [[FileScan.clusteredBy]] claim
  * in a [[ClusteredScanExec]] (once: a wrapped scan is left as it is).
  * Installed as a post-planner rule, so it runs under adaptive execution,
  * before exchanges are planned. */
object ClusterScans extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case c: ClusteredScanExec => c
    case b: BatchScanExec => (b.scan match {
      case f: FileScan[_] => f.clusteredBy
      case _ => None
    }).flatMap { case (key, file) =>
      b.output.find(_.name == key).map(a =>
        ClusteredScanExec(b, ClusteredOn(a, b.inputPartitions.length, file)))
    }.getOrElse(b)
    case p => p.withNewChildren(p.children.map(apply))
  }
}
