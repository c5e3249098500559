package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, CollapseWindow, ColumnPruning, ConstantFolding,
  RemoveNoopOperators, ReplaceExpressions}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.StreamingTa.{BarTick, StreamStage}
import graft.ta.IndicatorSpec

/** The streaming twin of a column lowering, generated from its analyzed
  * batch plan: [[LoweringStage]] steps the chain of Project and Window
  * nodes one tick at a time, so a streamed column is the very expression
  * tree the batch route evaluates.
  *
  * Window functions map to per-series state as follows:
  *  - a bounded ROWS frame (`prim.f(n)`) keeps a ring of the aggregate's
  *    evaluated inputs and re-folds the aggregate oldest→newest every
  *    tick — the order WindowExec's sliding frame updates it in, so the
  *    results agree bit for bit;
  *  - the running frame (`prim.cum`) carries the DeclarativeAggregate's
  *    buffer (row_number, first, sum, and every SeededComposites/RecFolds
  *    kernel alike);
  *  - `lag` reads its input's ring.
  * Anything else — `lead`, following or unbounded-following frames, a
  * column the bar schema lacks — makes the lowering non-streamable.
  *
  * State is flat primitive arrays (the kryo rule): one ring per distinct
  * (window input, window node), the running buffers, a tick counter. The
  * bound program is shared per task through the stage factory and
  * re-attached by [[StreamStage.rearm]] after the state round-trip. */
object LoweringStep {

  /** One typed value in the flat state: doubles in `dbl` (`code` 0),
    * longs, ints and booleans in `lng` (1, 2, 3); `at` indexes the
    * matching null flags too. */
  final case class Slot(isD: Boolean, code: Int, at: Int)

  sealed trait Op extends Serializable
  /** Project: copy the child's column `refs(i)`, or take the next value
    * of compiled unit `unit` (the expressions where `refs(i)` is -1). */
  final case class Proj(refs: Array[Int], unit: Int) extends Op
  /** Window: push each ring's input, step the running folds, then append
    * every function's value. */
  final case class Win(rings: Array[Ring], run: Run, fns: Array[Fn]) extends Op

  /** A window node's running-frame DeclarativeAggregates together: their
    * buffers, compiled unit `update` (every update expression, bound to
    * the buffers ++ child row) and `result` (every evaluate expression,
    * bound to the buffers). */
  final case class Run(buf: Array[Slot], update: Int, result: Int, scratch: Int) {
    val types: Seq[DataType] = buf.toSeq.map(s => Seq(DoubleType, LongType, IntegerType, BooleanType)(s.code))
  }

  /** A ring of one window input over the last `cap` ticks. */
  final case class Ring(input: Expression, base: Slot, cap: Int)

  sealed trait Fn extends Serializable
  /** The `r`-th running fold's result. */
  final case class RunOut(r: Int) extends Fn
  /** Bounded-frame ImperativeAggregate (collect_list, percentile, ...)
    * with its children bound to the ring values. */
  final case class SlidingImp(n: Int, ins: Array[Ring], agg: ImperativeAggregate, width: Int) extends Fn
  /** count, sum, avg, min, max, stddev_samp or var_samp over a bounded
    * frame of one double ring, folded oldest→newest with the arithmetic
    * of their Spark update expressions (`nullOnDiv`: the n = 1 rule of
    * the sample moments). */
  final case class Moment(op: Int, n: Int, ring: Ring, nullOnDiv: Boolean) extends Fn
  /** The value of the same window function at position `j`. */
  final case class Same(j: Int) extends Fn
  /** lag(input, k, default): the input's ring k ticks back. */
  final case class LagFn(ring: Ring, k: Int, default: Expression) extends Fn

  /** A bound lowering: operators leaf first, output positions and types,
    * flat-state sizes and the running buffers' initial values. */
  final class Program(
      val ops: Array[Op],
      val units: Array[Seq[Expression]],
      val outIdx: Array[Int],
      val fields: Seq[StructField],
      val nDbl: Int,
      val nLng: Int,
      val init: Array[(Slot, Any)],
      val readsSeries: Boolean,
      val nRuns: Int
  ) extends Serializable {
    val width: Array[Int] = units.map(_.length)
    /** Keys this program's compiled units in each thread's cache. */
    val id: String = java.util.UUID.randomUUID().toString
  }

  /** Per-thread compiled units (codegen'd MutableProjections; a projection
    * is mutable, so a thread owns its copy), built on a thread's first
    * tick of a program and kept for every later task and micro-batch. */
  private val compiled = ThreadLocal.withInitial[java.util.HashMap[String, Array[MutableProjection]]](
    () => new java.util.HashMap[String, Array[MutableProjection]]())

  def units(p: Program): Array[MutableProjection] = {
    val m = compiled.get()
    var u = m.get(p.id)
    if (u == null) {
      // compiling a class costs milliseconds: a unit of a few nodes runs interpreted
      u = p.units.map(e =>
        if (e.map(_.collect { case x => x }.size).sum <= 8) new InterpretedMutableProjection(e)
        else MutableProjection.create(e))
      m.put(p.id, u)
    }
    u
  }

  private final class Unsupported(msg: String) extends RuntimeException(msg)

  private val barSchema = StructType.fromDDL(
    "series_id STRING, ts BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE")

  private def session: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse(
      throw new IllegalStateException("building a streaming stage needs an active SparkSession (analyzer)"))

  private val cache = new java.util.concurrent.ConcurrentHashMap[(String, Any, Boolean), Option[Program]]()

  /** The stage program of what `registry(df, spec)` adds to a bar frame,
    * or None when the lowering does not step (see the object doc). */
  def columns(spec: IndicatorSpec): Option[Program] =
    cached("columns", spec, None)(empty => graft.ta.registry(empty, spec))

  /** The stage program of several specs batched as `registry.strategy`
    * batches them — the very template it re-binds to a bar input —,
    * emitting `names`: one chain, so specs share their rings, folds and
    * levels. */
  def strategy(specs: Seq[IndicatorSpec], names: Seq[String]): Option[Program] =
    cached("strategy", (specs, names), Some(names))(empty => graft.ta.registry.template(empty.sparkSession, specs, empty.schema))

  /** The stage program of one running fold over rows of `inputs` (no bar
    * relation, no window chain) emitting its struct result's fields: the
    * trained-stats cusum steps CusumFold over (close, μ, σ). */
  def fold(f: DeclarativeAggregate, inputs: Seq[Attribute]): Program = {
    val st = f.dataType.asInstanceOf[StructType]
    val slots = new Slots
    val buf = f.aggBufferAttributes.map(a => slots(a.dataType, 1)).toArray
    val units = Array(
      f.updateExpressions.map(BindReferences.bindReference(_, f.aggBufferAttributes ++ inputs)),
      Seq(BindReferences.bindReference(f.evaluateExpression, f.aggBufferAttributes)),
      st.indices.map(i => GetStructField(BoundReference(inputs.size, st, nullable = false), i)))
    new Program(
      Array(Win(Array.empty, Run(buf, 0, 1, 0), Array(RunOut(0))), Proj(Array.fill(st.size)(-1), 2)),
      units, st.indices.toArray, st.fields.toSeq.map(_.copy(nullable = true)), slots.nD, slots.nL,
      buf.zip(f.initialValues.map(_.eval())), readsSeries = false, nRuns = 1)
  }

  private def cached(route: String, key: Any, names: Option[Seq[String]])(build: DataFrame => DataFrame): Option[Program] = {
    val spark = session
    graft.functions.Registry.register(spark)
    cache.computeIfAbsent((route, key, spark.sessionState.conf.ansiEnabled), _ => {
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), barSchema)
      scala.util.Try(build(empty)).toOption.flatMap { df =>
        try {
          val p = compile(GraftBridge.analyzed(df), names.getOrElse(df.columns.filterNot(barSchema.fieldNames.contains).toSeq))
          // one dry tick: an expression that cannot evaluate fails here, not
          // in a task; a strategy's merged program is also compiled here (a
          // local session's executor threads then find its classes cached)
          val dry = BarTick("s", 0L, 1.0, 2.0, 0.5, 1.5, 10.0)
          if (route == "strategy") new LoweringStage(p).update(dry)
          else new LoweringStage(p).step(dry, p.units.map(new InterpretedMutableProjection(_)))
          Some(p)
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    })
  }

  private def unsupported(what: Any): Nothing = throw new Unsupported(String.valueOf(what))

  private def slotCode(dt: DataType): Int = dt match {
    case DoubleType => 0
    case LongType => 1
    case IntegerType => 2
    case BooleanType => 3
    case other => unsupported(s"state of type $other")
  }

  /** Allocates the flat state: `width` consecutive slots of a type. */
  private final class Slots {
    var nD = 0
    var nL = 0
    def apply(dt: DataType, width: Int): Slot = {
      val c = slotCode(dt)
      val s = Slot(c == 0, c, if (c == 0) nD else nL)
      if (c == 0) nD += width else nL += width
      s
    }
  }

  private def integral(e: Expression): Long = e match {
    case CurrentRow => 0L
    case x if x.foldable => x.eval() match {
      case v: Int => v.toLong
      case v: Long => v
      case v => unsupported(s"frame bound $v")
    }
    case x => unsupported(s"frame bound $x")
  }

  /** Semantics-preserving rewrites that shorten the chain: unused
    * columns and window functions go, adjacent projections merge. */
  private def shrink(plan: LogicalPlan): LogicalPlan = {
    val rules = Seq(ColumnPruning, CollapseProject, CollapseWindow, RemoveNoopOperators, ConstantFolding)
    var cur = plan
    var i = 0
    var done = false
    while (!done && i < 100) {
      val next = rules.foldLeft(cur)((q, r) => r(q))
      done = next.fastEquals(cur)
      cur = next
      i += 1
    }
    cur
  }

  private val Count0 = 0; private val Sum0 = 1; private val Avg0 = 2; private val Min0 = 3
  private val Max0 = 4; private val Std0 = 5; private val Var0 = 6

  /** The Moment op of a bounded-frame aggregate over one double input. */
  private def momentOp(f: AggregateFunction): Option[(Int, Boolean)] = f match {
    case c: Count if c.children.size == 1 => Some((Count0, false))
    case _ if f.children.size != 1 || f.children.head.dataType != DoubleType || f.dataType != DoubleType => None
    case _: Sum => Some((Sum0, false))
    case _: Average => Some((Avg0, false))
    case _: Min => Some((Min0, false))
    case _: Max => Some((Max0, false))
    case s: StddevSamp => Some((Std0, s.nullOnDivideByZero))
    case v: VarianceSamp => Some((Var0, v.nullOnDivideByZero))
    case _ => None
  }

  /** Bind the analyzed chain over the bar relation into a Program. */
  private def compile(analyzed: LogicalPlan, added: Seq[String]): Program = {
    // only the added columns are kept, so pruning reaches every level
    val plan = shrink(Project(added.map(n => analyzed.output.find(_.name == n).getOrElse(unsupported(n))),
      ReplaceExpressions(analyzed)))
    def chain(p: LogicalPlan): List[LogicalPlan] = p match {
      case pr: Project => pr :: chain(pr.child)
      case w: Window => w :: chain(w.child)
      case leaf if leaf.children.isEmpty && leaf.output.map(_.name) == barSchema.fieldNames.toSeq => Nil
      case other => unsupported(other.nodeName)
    }
    val alloc = new Slots
    val init = scala.collection.mutable.ArrayBuffer.empty[(Slot, Any)]
    val units = scala.collection.mutable.ArrayBuffer.empty[Seq[Expression]]
    var nRuns = 0
    def unit(exprs: Seq[Expression]): Int = { units += exprs; units.size - 1 }
    val ops = chain(plan).reverse.map[Op] {
      case Project(list, child) =>
        val exprs = list.map { e =>
          BindReferences.bindReference(e match { case a: Alias => a.child; case x => x }, child.output)
        }.toArray
        val refs = exprs.map { case b: BoundReference => b.ordinal; case _ => -1 }
        Proj(refs, unit(exprs.zip(refs).collect { case (e, -1) => e }.toSeq))
      case w: Window =>
        val in = w.child.output
        val ok = (w.partitionSpec, w.orderSpec) match {
          case (Seq(p: Attribute), Seq(o)) =>
            p.name == "series_id" && o.direction == Ascending &&
              (o.child match { case a: Attribute => a.name == "ts"; case _ => false })
          case _ => false
        }
        if (!ok) unsupported("window spec")
        // rings first: one per distinct bound input, sized for its widest use
        // keyed by the canonical form; the bound expression itself is what
        // runs (canonicalization reorders commutative operands)
        val caps = scala.collection.mutable.LinkedHashMap.empty[Expression, (Expression, Int)]
        def need(e: Expression, cap: Int): Expression = {
          val b = BindReferences.bindReference(e, in)
          val k = b.canonicalized
          caps(k) = (caps.get(k).fold(b)(_._1), math.max(cap, caps.get(k).fold(0)(_._2)))
          k
        }
        sealed trait Plan0
        case class Run0(f: DeclarativeAggregate) extends Plan0
        case class Slide0(f: AggregateFunction, n: Int, keys: Seq[Option[Expression]]) extends Plan0
        case class Lag0(key: Expression, k: Int, default: Expression) extends Plan0
        // a window function written twice (sdiv's denominator, a gate) runs once
        val same = w.windowExpressions.map(e => BindReferences.bindReference(e.children.head, in).canonicalized)
        case class Same0(j: Int) extends Plan0
        val plans = w.windowExpressions.zipWithIndex.map {
          case (_, i) if same.indexOf(same(i)) != i => Same0(same.indexOf(same(i)))
          case (Alias(WindowExpression(fn, WindowSpecDefinition(_, _, frame)), _), _) =>
            (fn, frame) match {
              case (l: Lag, _) if !l.ignoreNulls =>
                val k = integral(l.inputOffset).toInt
                if (k < 0) unsupported("lead")
                Lag0(need(l.input, k + 1), k, l.default)
              case (ae: AggregateExpression, SpecifiedWindowFrame(RowFrame, lo, CurrentRow))
                  if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
                lo match {
                  case UnboundedPreceding => ae.aggregateFunction match {
                    case d: DeclarativeAggregate => Run0(d)
                    case other => unsupported(s"running ${other.prettyName}")
                  }
                  case _ =>
                    val n = 1 - integral(lo)
                    if (n < 1) unsupported("frame")
                    Slide0(ae.aggregateFunction, n.toInt,
                      ae.aggregateFunction.children.map(c => if (c.foldable) None else Some(need(c, n.toInt))))
                }
              case (d: AggregateWindowFunction, SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)) =>
                Run0(d)
              case other => unsupported(other)
            }
          case (other, _) => unsupported(other)
        }
        val rings = caps.map { case (k, (b, cap)) => k -> Ring(b, alloc(b.dataType, cap), cap) }
        def placeholders(keys: Seq[Option[Expression]]) =
          keys.zipWithIndex.collect { case (Some(k), j) => AttributeReference(s"in$j", k.dataType, k.nullable)() }
        val folds = plans.collect { case Run0(f) => f }
        val bufAttrs = folds.flatMap(_.aggBufferAttributes)
        val run = Run(bufAttrs.map(a => alloc(a.dataType, 1)).toArray,
          unit(folds.flatMap(_.updateExpressions).map(BindReferences.bindReference(_, bufAttrs ++ in))),
          unit(folds.map(f => BindReferences.bindReference(f.evaluateExpression, bufAttrs))), nRuns)
        if (folds.nonEmpty) nRuns += 1
        run.buf.zip(folds.flatMap(_.initialValues)).foreach { case (s, e) => init += (s -> e.eval()) }
        var r = -1
        val fns = plans.map {
          case Run0(_) => r += 1; RunOut(r)
          case Slide0(f, n, Seq(Some(key))) if momentOp(f).isDefined && rings(key).base.isD =>
            val (op, nullOnDiv) = momentOp(f).get
            Moment(op, n, rings(key), nullOnDiv)
          case Slide0(f, n, keys) =>
            val ph = placeholders(keys)
            var j = -1
            val f1 = f.withNewChildren(f.children.zip(keys).map {
              case (c, None) => c
              case (_, Some(_)) => j += 1; ph(j)
            }).asInstanceOf[AggregateFunction]
            val ins = keys.flatten.map(rings).toArray
            f1 match {
              case i: ImperativeAggregate =>
                SlidingImp(n, ins,
                  BindReferences.bindReference(i, ph).withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0),
                  i.aggBufferAttributes.length)
              case other => unsupported(other)
            }
          case Lag0(key, k, default) => LagFn(rings(key), k, BindReferences.bindReference(default, in))
          case Same0(j) => Same(j)
        }
        Win(rings.values.toArray, run, fns.toArray)
    }.toArray
    val out = plan.output
    val outIdx = added.map(n => out.indexWhere(_.name == n)).toArray
    if (outIdx.contains(-1)) unsupported("output")
    // the first operator reads the bar row: is series_id one of its inputs?
    val reads = chain(plan).lastOption.toSeq.flatMap {
      case pr: Project => pr.projectList.flatMap(_.references)
      case w: Window => w.windowExpressions.flatMap(_.collect { case WindowExpression(fn, _) => fn.references }.flatten)
      case _ => Nil
    }
    new Program(ops, units.toArray, outIdx, outIdx.map(i => StructField(out(i).name, out(i).dataType, nullable = true)).toSeq,
      alloc.nD, alloc.nL, init.toArray, reads.exists(_.name == "series_id"), nRuns)
  }
}

/** Per-series state of one stepped lowering (see [[LoweringStep]]). */
final class LoweringStage(@transient private var prog: LoweringStep.Program) extends StreamStage {
  import LoweringStep._

  private var cnt = 0L
  private var dbl = new Array[Double](prog.nDbl)
  private var dNul = new Array[Boolean](prog.nDbl)
  private var lng = new Array[Long](prog.nLng)
  private var lNul = new Array[Boolean](prog.nLng)
  prog.init.foreach { case (s, v) => put(s, 0, v) }

  def fields: Seq[StructField] = prog.fields

  override def rearm(fresh: () => StreamStage): Unit =
    if (prog == null) prog = fresh().asInstanceOf[LoweringStage].prog

  private def get(s: Slot, off: Int): Any = {
    val i = s.at + off
    if (if (s.isD) dNul(i) else lNul(i)) null
    else s.code match {
      case 0 => dbl(i)
      case 1 => lng(i)
      case 2 => lng(i).toInt
      case _ => lng(i) != 0L
    }
  }

  private def put(s: Slot, off: Int, v: Any): Unit = {
    val i = s.at + off
    if (s.isD) dNul(i) = v == null else lNul(i) = v == null
    v match {
      case null =>
      case d: Double => dbl(i) = d
      case l: Long => lng(i) = l
      case x: Int => lng(i) = x.toLong
      case b: Boolean => lng(i) = if (b) 1L else 0L
    }
  }

  /** The ring value of tick `t` (0-based). */
  private def ringAt(r: Ring, t: Long): Any = get(r.base, (t % r.cap).toInt)

  def update(t: BarTick): Array[Any] = step(t, LoweringStep.units(prog))

  /** One row of a [[LoweringStep.fold]] program's inputs. */
  def update(in: GenericInternalRow): Array[Any] = run(in, LoweringStep.units(prog))

  private[streaming] def step(t: BarTick, u: Array[MutableProjection]): Array[Any] =
    run(new GenericInternalRow(
      Array[Any](if (prog.readsSeries) UTF8String.fromString(t.series_id) else null,
        t.ts, t.open, t.high, t.low, t.close, t.volume)), u)

  private def run(in: GenericInternalRow, u: Array[MutableProjection]): Array[Any] = {
    val p = prog
    val tick = cnt
    cnt += 1
    var row = in
    var o = 0
    while (o < p.ops.length) {
      p.ops(o) match {
        case Proj(refs, k) =>
          val child = row.values
          val computed = new GenericInternalRow(p.width(k))
          u(k).target(computed).apply(row)
          val vs = new Array[Any](refs.length)
          var i = 0
          var j = 0
          while (i < refs.length) {
            if (refs(i) >= 0) vs(i) = child(refs(i))
            else { vs(i) = computed.values(j); j += 1 }
            i += 1
          }
          row = new GenericInternalRow(vs)
        case Win(rings, run, fns) =>
          var i = 0
          while (i < rings.length) {
            val r = rings(i)
            val v = r.input match {
              case b: BoundReference => row.values(b.ordinal)
              case e => e.eval(row)
            }
            put(r.base, (tick % r.cap).toInt, v)
            i += 1
          }
          val results = if (run.buf.isEmpty) null else stepRunning(run, row, u, p)
          val child = row.values
          val vs = new Array[Any](child.length + fns.length)
          System.arraycopy(child, 0, vs, 0, child.length)
          i = 0
          while (i < fns.length) {
            vs(child.length + i) = fns(i) match {
              case Same(j) => vs(child.length + j)
              case RunOut(r) => results.values(r)
              case f => eval(f, row, tick, u)
            }
            i += 1
          }
          row = new GenericInternalRow(vs)
      }
      o += 1
    }
    val out = new Array[Any](p.outIdx.length)
    var i = 0
    while (i < out.length) {
      val v = row.values(p.outIdx(i))
      out(i) = v match {
        case s: UTF8String => s.toString
        case _ => v
      }
      i += 1
    }
    out
  }

  /** Typed scratch rows of the running folds (cur, next and the joined
    * input per window node), rebuilt after a state round-trip. */
  @transient private var scratch: Array[AnyRef] = _

  /** One tick of a window node's running folds; returns their results.
    * The buffers travel between the flat state and typed rows, so the
    * compiled update reads and writes them unboxed. */
  private def stepRunning(run: Run, child: InternalRow, u: Array[MutableProjection], p: Program): GenericInternalRow = {
    if (scratch == null) scratch = new Array[AnyRef](3 * p.nRuns)
    val at = 3 * run.scratch
    if (scratch(at) == null) {
      scratch(at) = new SpecificInternalRow(run.types)
      scratch(at + 1) = new SpecificInternalRow(run.types)
      scratch(at + 2) = new JoinedRow()
    }
    val cur = scratch(at).asInstanceOf[SpecificInternalRow]
    val next = scratch(at + 1).asInstanceOf[SpecificInternalRow]
    val buf = run.buf
    var i = 0
    while (i < buf.length) { load(buf(i), cur, i); i += 1 }
    u(run.update).target(next).apply(scratch(at + 2).asInstanceOf[JoinedRow](cur, child))
    i = 0
    while (i < buf.length) { store(buf(i), next, i); i += 1 }
    val results = new GenericInternalRow(p.width(run.result))
    u(run.result).target(results).apply(next)
    results
  }

  private def load(s: Slot, row: InternalRow, i: Int): Unit = {
    val j = s.at
    if (if (s.isD) dNul(j) else lNul(j)) row.setNullAt(i)
    else s.code match {
      case 0 => row.setDouble(i, dbl(j))
      case 1 => row.setLong(i, lng(j))
      case 2 => row.setInt(i, lng(j).toInt)
      case _ => row.setBoolean(i, lng(j) != 0L)
    }
  }

  private def store(s: Slot, row: InternalRow, i: Int): Unit = {
    val j = s.at
    val isNull = row.isNullAt(i)
    if (s.isD) dNul(j) = isNull else lNul(j) = isNull
    if (!isNull) s.code match {
      case 0 => dbl(j) = row.getDouble(i)
      case 1 => lng(j) = row.getLong(i)
      case 2 => lng(j) = row.getInt(i).toLong
      case _ => lng(j) = if (row.getBoolean(i)) 1L else 0L
    }
  }

  private def eval(fn: Fn, child: InternalRow, tick: Long, u: Array[MutableProjection]): Any = fn match {
    case SlidingImp(n, ins, agg, width) =>
      val bufRow = new GenericInternalRow(width)
      agg.initialize(bufRow)
      val inRow = new GenericInternalRow(ins.length)
      var k = math.max(0L, tick - n + 1)
      while (k <= tick) {
        var j = 0
        while (j < ins.length) { inRow.update(j, ringAt(ins(j), k)); j += 1 }
        agg.update(bufRow, inRow)
        k += 1
      }
      agg.eval(bufRow)
    case Moment(op, n, ring, nullOnDiv) => moment(op, n, ring, nullOnDiv, tick)
    case Same(_) | RunOut(_) => null // resolved by the caller
    case LagFn(ring, k, default) =>
      if (tick >= k) ringAt(ring, tick - k) else default.eval(child)
  }

  private def moment(op: Int, n: Int, ring: Ring, nullOnDiv: Boolean, tick: Long): Any = {
    val cap = ring.cap
    val base = ring.base.at
    var k = math.max(0L, tick - n + 1)
    var cnt = 0L
    var acc = 0.0
    var seen = false
    // sample moments: CentralMomentAgg's (n, avg, m2) recurrence
    var mn = 0.0
    var avg = 0.0
    var m2 = 0.0
    while (k <= tick) {
      val i = base + (k % cap).toInt
      if (!dNul(i)) {
        val x = dbl(i)
        cnt += 1
        op match {
          case 1 | 2 => acc = acc + x
          case 3 => if (!seen || compareDoubles(x, acc) < 0) acc = x
          case 4 => if (!seen || compareDoubles(x, acc) > 0) acc = x
          case 5 | 6 =>
            val newN = mn + 1.0
            val delta = x - avg
            val deltaN = delta / newN
            avg = avg + deltaN
            m2 = m2 + delta * (delta - deltaN)
            mn = newN
          case _ =>
        }
        seen = true
      } else if (op == 2) acc = acc + 0.0 // avg adds coalesce(x, 0.0)
      k += 1
    }
    op match {
      case 0 => cnt
      case 1 | 3 | 4 => if (seen) acc else null
      case 2 => if (cnt == 0L) null else acc / cnt.toDouble
      case _ =>
        if (mn == 0.0) null
        else if (mn == 1.0) { if (nullOnDiv) null else Double.NaN }
        else if (op == 5) math.sqrt(m2 / (mn - 1.0))
        else m2 / (mn - 1.0)
    }
  }
}
