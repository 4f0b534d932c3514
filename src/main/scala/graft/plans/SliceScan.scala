package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, GenericInternalRow, JoinedRow,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{DataType, StructField}
import scala.collection.mutable.ArrayDeque

/** One slice's partial state on the executor: `step` absorbs a layout row
  * in stream order, `result` exports the slice's payload for the driver
  * combine. */
private[graft] abstract class SlicePartial[P] {
  def step(r: InternalRow): Unit
  def result: P
}

/** One partition's emit state: `enter` seeds a slice run from its
  * incoming state, `cells` writes the row's output cells (internal
  * values) into `out`. The kernel is resolved once per partition, so each
  * operator's per-cell loop stays its own monomorphic compilation unit (a
  * per-cell mode dispatch ran interpreted-slow). Held emission (the
  * centered lag): `out` is the held row due now, or null; `finish`
  * completes a run's still-held rows, oldest first. */
private[graft] abstract class SliceKernel {
  def enter(pid: Int): Unit
  def cells(r: InternalRow, out: Array[Any]): Unit
  def finish(held: ArrayDeque[Array[Any]]): Unit = ()
}

/** A slice scan's pluggable parts over a layout of `parts` slices. The
  * partial and kernel factories run on the executors and get the
  * ordinals of the scan's value columns in the input row; `combine` runs
  * on the driver over the ≤ `parts` payloads, keyed by slice id, and
  * returns the state every emit task reads. `hold` > 0 delays each row's
  * cells by `hold` rows of its slice (the centered lag). `name` is the
  * scan's description in plans. Serializable with the plan that holds it
  * (whole-stage codegen ships plan nodes to the tasks); the driver-only
  * combine stays behind. */
private[graft] final class SliceOp[P, S](
    val name: String, val parts: Int,
    val partial: Array[Int] => SlicePartial[P],
    @transient val combine: Map[Int, P] => S,
    val kernel: (S, Array[Int]) => SliceKernel,
    val hold: Int = 0) extends Serializable {
  override def toString: String = name
}

/** A slice scan over a slice layout (`child`: every slice one contiguous
  * stream-sorted run of one partition, `pid` its slice id): appends
  * `outAttrs`, the cells `op` computes for each row from the row, its
  * predecessors in the slice, and the combined partials of the other
  * slices. */
case class SliceScanNode(pid: Attribute, inputs: Seq[Attribute],
                         outAttrs: Seq[Attribute], op: SliceOp[_, _],
                         child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override protected def withNewChildInternal(c: LogicalPlan): SliceScanNode =
    copy(child = c)
}

object SliceScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SliceScanNode(pid, inputs, outAttrs, op, child) =>
      SliceScanExec(pid, inputs, outAttrs, op, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** The physical slice scan. `doExecute` builds the child RDD once, runs
  * the narrow per-slice partial pass over it as a job of the action that
  * executes the plan, folds the ≤ `parts` payloads on the driver
  * (`op.combine`), and returns the emit over the same RDD: rows keep
  * their partition and order, so the child's partitioning and ordering
  * hold for the output. Nothing runs before the plan is executed. */
case class SliceScanExec(pid: Attribute, inputs: Seq[Attribute],
                         outAttrs: Seq[Attribute], op: SliceOp[_, _],
                         child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    def ordinal(a: Attribute): Int = {
      val i = child.output.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"slice scan input $a is missing from ${child.output}")
      i
    }
    op match {
      case o: SliceOp[p, s] => SliceScan.run(o, child.execute(),
        ordinal(pid), inputs.map(ordinal).toArray,
        output.map(_.dataType).toArray, outAttrs.length)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SliceScanExec =
    copy(child = c)
}

object SliceScan {
  /** Idempotently register the planner strategy, as
    * [[TopKPerKey.ensureStrategy]] does. */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(SliceScanStrategy))
      spark.experimental.extraStrategies =
        SliceScanStrategy +: spark.experimental.extraStrategies

  /** The scan `op` over `laid` (a slice layout carrying `__pfx_pid`,
    * `__slc_ord` and the value columns `inNames`): `laid` plus
    * `outFields`, without the layout columns. Builds the plan only. */
  private[graft] def apply(laid: DataFrame, inNames: Seq[String],
                           outFields: Seq[StructField],
                           op: SliceOp[_, _]): DataFrame = {
    val spark = laid.sparkSession
    ensureStrategy(spark)
    val child = laid.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.filter(_.name == n) match {
      case Seq(a) => a
      case other => throw new IllegalArgumentException(
        s"slice scan: expected one column '$n' in the layout, found " +
          other.length)
    }
    val outAttrs = outFields.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    GraftColumnBridge.ofRows(spark, SliceScanNode(attr("__pfx_pid"),
        inNames.map(attr), outAttrs, op, child))
      .drop("__pfx_pid", "__slc_ord")
  }

  /** The collected (slice id, payload) pairs keyed by slice id. The layout
    * holds every slice in exactly ONE partition, so each slice reports
    * once: a second payload means a slice was split across partitions
    * (keeping either half would silently drop the other), and an id
    * outside [0, parts) a broken slice id — both throw. */
  private[graft] def slicePartials[P](pairs: Iterator[(Int, P)],
                                      parts: Int): Map[Int, P] = {
    val byPid = scala.collection.mutable.HashMap.empty[Int, P]
    pairs.foreach { case (pid, p) =>
      if (pid < 0 || pid >= parts) throw new IllegalStateException(
        s"slice id $pid outside [0, $parts) — withSliceId broke its " +
          "contract")
      if (byPid.put(pid, p).isDefined) throw new IllegalStateException(
        s"slice $pid arrived from two partitions — a slice scan needs " +
          "each slice in exactly one partition")
    }
    byPid.toMap
  }

  /** Partial pass, driver combine, emit: see [[SliceScanExec]]. `types`
    * are the output row's field types, the last `outW` the scan's. */
  private[plans] def run[P, S](op: SliceOp[P, S], rdd: RDD[InternalRow],
                               pidIdx: Int, inIdx: Array[Int],
                               types: Array[DataType],
                               outW: Int): RDD[InternalRow] = {
    val partial = op.partial
    val payloads = rdd.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, P)]
        var cur = Int.MinValue
        var acc: SlicePartial[P] = null
        it.foreach { r =>
          val pid = r.getInt(pidIdx)
          if (pid != cur) {
            if (acc != null) out += ((cur, acc.result))
            cur = pid
            acc = partial(inIdx)
          }
          acc.step(r)
        }
        if (acc != null) out += ((cur, acc.result))
        out.toArray
      })
    val state = op.combine(slicePartials(payloads.iterator.flatten, op.parts))
    val kernel = op.kernel
    val hold = op.hold
    rdd.mapPartitions({ it =>
      val k = kernel(state, inIdx)
      val proj = UnsafeProjection.create(types)
      val joined = new JoinedRow
      if (hold == 0) {
        val out = new Array[Any](outW)
        val outRow = new GenericInternalRow(out)
        var cur = Int.MinValue
        it.map { r =>
          val pid = r.getInt(pidIdx)
          if (pid != cur) { k.enter(pid); cur = pid }
          k.cells(r, out)
          proj(joined(r, outRow))
        }
      } else new HeldEmit(it, k, pidIdx, outW, hold,
        (r, o) => proj(joined(r, new GenericInternalRow(o))))
    }, preservesPartitioning = true)
  }

  /** The emit with each row's cells written `hold` rows of its slice
    * later (the kernel's `out` then is the held row due now) and a
    * slice's last held rows completed by `finish`; rows leave in input
    * order. */
  private final class HeldEmit(it: Iterator[InternalRow], k: SliceKernel,
                               pidIdx: Int, outW: Int, hold: Int,
                               emit: (InternalRow, Array[Any]) => InternalRow)
      extends Iterator[InternalRow] {
    private val held = ArrayDeque.empty[InternalRow]
    private val heldOut = ArrayDeque.empty[Array[Any]]
    private val ready = ArrayDeque.empty[(InternalRow, Array[Any])]
    private var cur = Int.MinValue

    private def release(): Unit = if (held.nonEmpty) {
      k.finish(heldOut)
      ready ++= held.zip(heldOut)
      held.clear()
      heldOut.clear()
    }

    def hasNext: Boolean = {
      while (ready.isEmpty && it.hasNext) {
        val r = it.next()
        val pid = r.getInt(pidIdx)
        if (pid != cur) { release(); k.enter(pid); cur = pid }
        val due =
          if (held.length == hold) {
            val o = heldOut.removeHead()
            ready.append((held.removeHead(), o))
            o
          } else null
        k.cells(r, due)
        held.append(r.copy())
        heldOut.append(new Array[Any](outW))
      }
      if (ready.isEmpty) release()
      ready.nonEmpty
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val (r, o) = ready.removeHead()
      emit(r, o)
    }
  }
}
